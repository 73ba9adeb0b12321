package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{graftbridge, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets

/** Versioned Parquet table: the time-travel substitute for Delta's log
  * (SURVEY.md §2.10 M3-M5, §2.1 S4; reference `utils/delta_ops.py`).
  *
  * Layout — manifest-based, like Delta's add-file log:
  * {{{
  *   <root>/_data/c00000001_<uid>/part-*.parquet  // files ADDED by commit 1
  *   <root>/_manifests/v00000001.txt        // file list of version 1
  *   <root>/_latest                         // text: current version
  *   <root>/_history/<ts>_v*.json           // one file per commit
  * }}}
  *
  * A version is a MANIFEST (one `relativePath \t rows \t bytes` line
  * per parquet file), not a directory copy. An Append commit writes
  * ONLY the new files and a manifest that re-references the previous
  * version's entries — O(delta) IO per commit, where the previous
  * directory-per-version layout re-copied the entire table (100 TB/day
  * of write amplification for a daily incremental append at target
  * scale). Row counts come from the new files' parquet footers (a
  * driver-side metadata read), so commits never re-scan data.
  *
  * Commit protocol = crash-safe ordering:
  *   1. data files land under a writer-unique `_data/c<next>_<uid>/`
  *      (racing writers never share an attempt dir; invisible: nothing
  *      references them, and `_`-prefixed paths are skipped by readers);
  *   2. the manifest is written to a temp name and renamed in — the
  *      manifest's EXISTENCE is the commit marker (no reliance on
  *      parquet `_SUCCESS`, which cloud-committer configs with
  *      `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` omit);
  *   3. `_latest` swaps via overwrite-rename.
  * A crash before (2) leaves an orphan data dir that [[vacuum]] GCs; a
  * crash before (3) recovers via the newest manifest.
  *
  * RESTORE allocates a NEW version whose manifest copies the target's
  * (Delta semantics). Version numbers are never reused, so shared data
  * files are never clobbered by a post-restore write.
  *
  * Concurrency (Delta-style optimistic): the manifest rename is the
  * commit arbiter. An APPEND that loses the race auto-rebases — its
  * already-written files are re-referenced against the winner's
  * snapshot and the commit retries (pure addition commutes with any
  * committed write, so this is always safe; schema/partitioning are
  * re-validated against each new snapshot). A [[replaceWhere]] rebases
  * only when no concurrently-committed file lands in a partition it
  * replaces — otherwise the caller's merged frame never saw those rows
  * and retrying would silently drop them, so it fails loudly. A plain
  * OVERWRITE never rebases (serializable semantics: last state it read
  * must still be current). Readers are snapshot-isolated at any
  * version throughout.
  */
final class VersionedTable(spark: SparkSession, root: String) {
  private val rootPath = new Path(root)
  private val fs = TableIO.fs(spark, rootPath)
  private val dataRoot = new Path(root, "_data")
  private val manifestsRoot = new Path(root, "_manifests")
  /** A fresh, WRITER-UNIQUE data dir for one commit ATTEMPT. Two racing
    * writers that both allocate version `v` then never share a
    * directory — without the suffix the second writer's cleanup would
    * delete the first's in-flight files, and the first's manifest could
    * commit referencing half-written data; with it the manifest-rename
    * guard cleanly rejects the loser and its orphan dir is [[vacuum]]
    * fodder. The version prefix keeps dirs humanly attributable and
    * lets vacuum's orphan sweep order them against `currentVersion`. */
  private def newCommitDir(v: Long) = new Path(dataRoot,
    f"c$v%08d_${java.util.UUID.randomUUID().toString.take(8)}")

  /** The commit number of a `_data` child dir, for both the suffixed
    * layout and the legacy `c<number>` form; None for foreign dirs
    * (which vacuum must never touch). */
  private val commitDirRe = """^c(\d+)(?:_[0-9a-f]+)?$""".r
  private def commitDirVersion(name: String): Option[Long] = name match {
    case commitDirRe(digits) => Some(digits.toLong)
    case _ => None
  }
  private def manifestPath(v: Long) = new Path(manifestsRoot, f"v$v%08d.txt")
  private val latestPath = new Path(root, "_latest")
  private val historyDir = new Path(root, "_history")
  private val legacyHistoryPath = new Path(root, "_history.jsonl")

  /** Current = newest committed manifest, full stop. The manifest
    * rename is the commit; the `_latest` pointer is written purely for
    * human inspection and is never consulted (a pointer can only
    * disagree with the manifests in a crash window — lost or stale —
    * and in both cases the manifests are right; a pointer with NO
    * manifests is a foreign/corrupt dir and must read as
    * not-a-versioned-table rather than crash every read). */
  def currentVersion: Option[Long] = committedVersions.lastOption

  /** Versions whose commit completed, oldest first. A NON-EMPTY
    * manifest file IS the commit marker — every consumer (recovery,
    * vacuum, reads) shares this one definition of "exists". Zero-byte
    * manifests are another writer's claim (or a crashed one) and are
    * not commits. */
  def committedVersions: Seq[Long] =
    if (!fs.exists(manifestsRoot)) Seq.empty
    else fs.listStatus(manifestsRoot).toSeq
      .filter(_.getLen > 0)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toLong).sorted

  /** Has `v` fully committed (non-empty manifest)? */
  private def manifestCommitted(v: Long): Boolean =
    try fs.getFileStatus(manifestPath(v)).getLen > 0
    catch { case _: java.io.FileNotFoundException => false }

  def exists: Boolean = currentVersion.isDefined

  /** The table's partition columns (Delta partitionColumns): recorded
    * in the current manifest; empty for unpartitioned tables. */
  def partitionColumns: Seq[String] =
    currentVersion.map(v => readManifest(v).partitionBy).getOrElse(Seq.empty)

  /** Commit a new version. Append re-references the current manifest's
    * files and writes only the delta; Overwrite starts a fresh file
    * set. With `allowSchemaEvolution`, an Append may ADD columns
    * (Delta mergeSchema): the snapshot schema grows, and reads fill
    * the column null for pre-evolution files. Shared columns must
    * type-match — a silent type change corrupts reads — except under
    * `allowTypeWidening` (Delta type widening): an Append may WIDEN a
    * column along int→long / float→double (the snapshot schema grows
    * to the wider type, existing narrow files read upcast natively),
    * and narrower incoming data is accepted under a wider snapshot
    * schema. Never narrowing, in either direction.
    *
    * `partitionBy` hive-partitions the commit's files INSIDE the
    * version dir (Delta's partitionValues: each manifest entry's
    * partition values are its path's `col=value` segments). The
    * partitioning is TABLE METADATA with Delta inheritance semantics:
    * `None` (the default) inherits the table's current partitioning —
    * so a plain Overwrite of a partitioned table stays partitioned —
    * `Some(cols)` sets it (Overwrite only; an Append may never change
    * it), and `Some(Seq.empty)` on an Overwrite explicitly CLEARS it,
    * rewriting the table unpartitioned. Partition values power
    * manifest-level pruning in [[readMatching]] and every scan.
    * Returns the new version number. */
  def write(df0: DataFrame, mode: SaveMode = SaveMode.Overwrite,
      operation: String = "WRITE",
      allowSchemaEvolution: Boolean = false,
      partitionBy: Option[Seq[String]] = None,
      allowTypeWidening: Boolean = false): Long = {
    val next0 = currentVersion.map(_ + 1).getOrElse(0L)
    val cur0: Option[VersionManifest] = currentVersion.map(readManifest)
    // GENERATED ALWAYS materialization (the Delta writer path): a
    // declared generated partition column missing from an APPEND frame
    // is computed here from its source column — streaming writers
    // append raw events and the layout derives itself. Frames that
    // carry the column keep their values (the declaration's recorded
    // rendering is what recordGenerated validated).
    val df: DataFrame = cur0.filter(_ => mode == SaveMode.Append)
      .map(_.generated).getOrElse(Seq.empty)
      .foldLeft(df0) { case (d, (pcol, gen)) =>
        if (d.columns.contains(pcol)) d
        else genFormat(gen) match {
          case Some((src, pattern, _)) if d.columns.contains(src) =>
            d.withColumn(pcol, org.apache.spark.sql.functions
              .date_format(org.apache.spark.sql.functions.col(src), pattern))
          case _ => genBucket(gen) match {
            case Some((src, n)) if d.columns.contains(src) =>
              d.withColumn(pcol, org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.xxhash64(
                  org.apache.spark.sql.functions.col(src)),
                org.apache.spark.sql.functions.lit(n)))
            case _ => genTrunc(gen) match {
              case Some((src, w)) if d.columns.contains(src) =>
                // floor truncation via pmod (non-negative remainder):
                // exact integer arithmetic at any sign
                d.withColumn(pcol,
                  org.apache.spark.sql.functions.col(src) -
                    org.apache.spark.sql.functions.pmod(
                      org.apache.spark.sql.functions.col(src),
                      org.apache.spark.sql.functions.lit(w)))
              case _ => d
            }
          }
        }
      }
    val parts: Seq[String] = partitionBy.getOrElse(
      cur0.map(_.partitionBy).getOrElse(Seq.empty))
    require(parts.forall(df.columns.contains),
      s"partition columns ${parts.mkString(",")} must exist in the frame " +
        s"written to $root (has: ${df.columns.mkString(",")})")
    require(!df.columns.contains(RowIdPhysCol),
      s"$RowIdPhysCol is reserved for row tracking; rewrites that carry " +
        s"it go through replaceWhere, not write, at $root")
    cur0.flatMap(_.identity).foreach { case (n, _, _) =>
      require(!df.columns.contains(n),
        s"$n is GENERATED ALWAYS AS IDENTITY at $root; its values are " +
          "always table-assigned and cannot be written explicitly")
    }
    // fail the cheap checks BEFORE paying for the data write
    val mapping0: Seq[(String, String)] =
      if (mode == SaveMode.Append) cur0.map(_.mapping).getOrElse(Seq.empty)
      else Seq.empty
    cur0.filter(_ => mode == SaveMode.Append).foreach { c =>
      if (c.mapping.isEmpty)
        reconcileAppendSchema(df, snapshotSchema(c), allowSchemaEvolution,
          allowTypeWidening)
      else {
        require(!allowSchemaEvolution,
          s"schema evolution under an active column mapping is not " +
            s"supported at $root — rename/drop back first")
        // appends address LOGICAL columns; files are written physical
        reconcileAppendSchema(df, logicalSchema(c), allowEvolution = false)
      }
    }
    // Attempt dirs are writer-unique, so there is never a pre-existing
    // dir to clear (a racing writer's files live under ITS OWN dir and
    // are never deleted here). Non-append writes pre-check the manifest
    // too: same error the commit arbiter raises, caught before the
    // data write (an append doesn't bother — it would rebase anyway).
    enforceConstraints(df, cur0.map(_.constraints).getOrElse(Seq.empty))
    val dir = newCommitDir(next0)
    if (mode != SaveMode.Append && manifestCommitted(next0))
      throw VersionConflictException(
        s"concurrent write conflict at $root: version $next0 was " +
          "committed by another writer; re-read and retry")
    writeCommitData(delogicalize(mapping0, df), parts, dir)
    val added = listCommitFiles(dir)
    commitWithRebase(rebase = mode == SaveMode.Append) { () =>
      // ONE currentVersion read per attempt: reading it separately for
      // the snapshot and for the number opens a window where a racer's
      // commit lands between the two, and this attempt would claim
      // version k+1 while re-referencing k-1's entries — dropping the
      // racer's files from the chain
      val curV = currentVersion
      val cur = curV.map(readManifest)
      val next = curV.map(_ + 1).getOrElse(0L)
      val (prior, schema): (Seq[ManifestEntry], StructType) = mode match {
        case SaveMode.Append if cur.isDefined =>
          require(partitionBy.forall(_ == cur.get.partitionBy),
            s"append cannot change partitioning of $root from " +
              s"[${cur.get.partitionBy.mkString(",")}] to " +
              s"[${partitionBy.getOrElse(Seq.empty).mkString(",")}]")
          require(cur.get.partitionBy == parts,
            s"concurrent write changed partitioning of $root to " +
              s"[${cur.get.partitionBy.mkString(",")}] while an append " +
              s"was in flight with [${parts.mkString(",")}]")
          // the data files were written under mapping0's physical
          // names — a rebase cannot fix that, so fail permanently
          require(cur.get.mapping == mapping0,
            s"concurrent column rename/drop at $root while an append " +
              "was in flight; re-run the append against the new schema")
          if (cur.get.mapping.isEmpty)
            (cur.get.entries,
              reconcileAppendSchema(df, snapshotSchema(cur.get),
                allowSchemaEvolution, allowTypeWidening))
          else {
            reconcileAppendSchema(df, logicalSchema(cur.get),
              allowEvolution = false)
            (cur.get.entries, snapshotSchema(cur.get)) // physical, frozen
          }
        case _ => (Seq.empty, df.schema)
      }
      val generatedOut =
        if (mode == SaveMode.Append)
          cur.map(_.generated).getOrElse(Seq.empty)
        else Seq.empty
      // row tracking: fresh files take fresh contiguous id ranges off
      // the high-water mark (which only ever grows — an Overwrite drops
      // rows but never recycles their ids)
      val (added2, hw2) = assignRowIds(cur.flatMap(_.rowIdHw), added)
      writeManifest(next, VersionManifest(Some(schema), prior ++ added2,
        parts, mapping0, generatedOut,
        cur.map(_.constraints).getOrElse(Seq.empty), hw2,
        cur.flatMap(_.identity),
        // defaults are schema state: carried by appends, reset by the
        // full overwrite that replaces the schema (like generated)
        if (mode == SaveMode.Append)
          cur.map(_.defaults).getOrElse(Seq.empty)
        else Seq.empty))
      appendHistory(next, operation, (prior ++ added).map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Replace-where commit (the write primitive under MERGE/partition-
    * scoped rewrites): keep the current snapshot's entries selected by
    * `keep`, drop the rest, and add `df`'s files — one atomic manifest
    * swap, so readers never see a state between "old partition" and
    * "rewritten partition". Kept files are re-referenced, not copied.
    *
    * `basisVersion` is the version the CALLER's `df` actually read
    * (delete/update/merge compute their rewritten frame from a
    * snapshot) — the lost-update check runs relative to it, so a
    * commit sneaking in between the caller's read and this call is
    * caught exactly like one racing the commit loop. Defaults to the
    * version current at entry. */
  def replaceWhere(df: DataFrame, keep: ManifestEntry => Boolean,
      operation: String, basisVersion: Option[Long] = None): Long = {
    val base = readManifest(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))
    val parts = base.partitionBy
    require(parts.forall(df.columns.contains),
      s"partition columns ${parts.mkString(",")} must exist in the frame " +
        s"written to $root")
    // the internal materialized-row-id column rides along on tracked
    // rewrites; it is never part of the table schema
    reconcileAppendSchema(df.drop(RowIdPhysCol), logicalSchema(base),
      allowEvolution = false)
    enforceConstraints(df, base.constraints)
    val dir = newCommitDir(currentVersion.get + 1)
    writeCommitData(delogicalize(base.mapping, df), parts, dir)
    val added = listCommitFiles(dir)
    val basisEntries = basisVersion.map(v => readManifest(v).entries)
      .getOrElse(base.entries)
    val basisFiles = basisEntries.map(_.relPath).toSet
    val basisDv = basisEntries.map(e => e.relPath -> (e.dvDir, e.dvRows)).toMap
    commitWithRebase(rebase = true) { () =>
      // ONE currentVersion read per attempt (see write())
      val curV = currentVersion.get
      val cur = readManifest(curV)
      require(cur.partitionBy == parts,
        s"concurrent write changed partitioning of $root while a " +
          "replaceWhere was in flight")
      // lost-update detection: a file committed since the caller's
      // basis that our keep predicate would REPLACE holds rows the
      // caller's rewritten frame never read — rebasing would silently
      // drop them
      val clobbered = cur.entries
        .filterNot(e => basisFiles.contains(e.relPath)).filterNot(keep)
      if (clobbered.nonEmpty) sys.error(
        s"concurrent write conflict at $root: another writer committed " +
          s"${clobbered.size} file(s) into partitions this replaceWhere " +
          "rewrites (e.g. " + clobbered.head.relPath + "); re-run the " +
          "rewrite against the new snapshot")
      // same rule for rows REMOVED since basis: a DV masked onto a file
      // this rewrite replaces deleted rows the caller's frame still
      // holds — rebasing would resurrect them
      val remasked = cur.entries.filterNot(keep).filter(e =>
        basisDv.get(e.relPath).exists(_ != ((e.dvDir, e.dvRows))))
      if (remasked.nonEmpty) sys.error(
        s"concurrent write conflict at $root: deletion vectors changed " +
          s"on ${remasked.size} file(s) this replaceWhere rewrites (e.g. " +
          remasked.head.relPath + "); re-run the rewrite against the new " +
          "snapshot")
      require(cur.mapping == base.mapping,
        s"concurrent column rename/drop at $root while a replaceWhere " +
          "was in flight; re-run against the new schema")
      reconcileAppendSchema(df.drop(RowIdPhysCol), logicalSchema(cur),
        allowEvolution = false)
      val schema = snapshotSchema(cur) // physical names, frozen
      val next = curV + 1
      val (added2, hw2) = assignRowIds(cur.rowIdHw, added)
      val entries = cur.entries.filter(keep) ++ added2
      writeManifest(next, VersionManifest(Some(schema), entries,
        parts, cur.mapping, cur.generated, cur.constraints, hw2,
        cur.identity, cur.defaults))
      appendHistory(next, operation, entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** TRUNCATE TABLE: ONE metadata commit that empties the snapshot —
    * zero data read, written, or deleted. Prior versions still see
    * every row (time travel and RESTORE undo a truncate), vacuum
    * reclaims the bytes later; schema, partitioning, constraints,
    * defaults, and column mapping all survive, so the next INSERT
    * needs no re-declaration. */
  def truncate(): Long = commitWithRebase(rebase = true) { () =>
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val cur = readManifest(curV)
    val next = curV + 1
    // materialize the schema if this manifest predates recorded
    // schemas — an empty entry list has no file footer to fall back on
    writeManifest(next, cur.copy(
      schema = Some(snapshotSchema(cur)), entries = Seq.empty))
    appendHistory(next, "TRUNCATE", 0L)
    pointTo(next)
    next
  }

  /** CREATE TABLE with a DECLARED schema and no data — the v0 commit
    * is a manifest with zero files (reads yield an empty frame of
    * exactly this schema; the first INSERT needs no inference).
    * Fails if the table exists. */
  def createEmpty(schema: StructType,
      partitionBy: Seq[String] = Seq.empty): Long = {
    require(currentVersion.isEmpty, s"table $root already exists")
    partitionBy.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column $p is not in the declared schema"))
    commitWithRebase(rebase = false) { () =>
      require(currentVersion.isEmpty, s"table $root already exists")
      writeManifest(0L, VersionManifest(Some(schema), Seq.empty,
        partitionBy))
      appendHistory(0L, "CREATE TABLE", 0L)
      pointTo(0L)
      0L
    }
  }

  /** `INSERT OVERWRITE ... [REPLACE] WHERE pred`: atomically replace
    * EXACTLY the rows matching `pred` with `df` — Delta's
    * `replaceWhere` write. Files the predicate provably misses
    * (manifest stats / partition pruning) are RE-REFERENCED
    * untouched — on a partition-aligned predicate this writes only
    * the replaced partitions; files it may touch are rewritten with
    * their non-matching rows preserved (row-exact on arbitrary
    * predicates, not just partition bounds). Refuses a frame holding
    * rows OUTSIDE the predicate — silently keeping them would make
    * the op non-deterministic (Delta enforces the same). */
  def insertOverwriteWhere(df: DataFrame,
      pred: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.not
    require(df.filter(not(pred)).limit(1).isEmpty,
      s"INSERT OVERWRITE WHERE at $root: the inserted frame holds " +
        "row(s) outside the replace predicate — every inserted row " +
        "must satisfy it")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val mayMatch = predicateMayMatch(m, pred)
    val touched = m.entries.filter(mayMatch)
    val survivors =
      if (touched.isEmpty) None
      else Some(readFiles(m, touched).filter(not(pred)))
    val out = survivors.fold(df)(s =>
      df.select(s.columns.map(org.apache.spark.sql.functions.col): _*)
        .unionByName(s))
    replaceWhere(out, e => !mayMatch(e),
      operation = "INSERT OVERWRITE WHERE",
      basisVersion = Some(curV))
  }

  /** Run one commit attempt; on losing the manifest race, either
    * re-run it against the new current snapshot (`rebase` — bounded
    * attempts, jittered backoff) or propagate the conflict. */
  private def commitWithRebase(rebase: Boolean)(attempt: () => Long): Long = {
    val maxAttempts = 20
    var n = 0
    while (true) {
      try return attempt()
      catch {
        case e: VersionConflictException =>
          n += 1
          if (!rebase || n >= maxAttempts) throw e
          Thread.sleep(5L + scala.util.Random.nextInt(45))
      }
    }
    sys.error("unreachable")
  }

  /** Read the current snapshot. */
  def read(): DataFrame = readVersion(
    currentVersion.getOrElse(sys.error(s"table $root does not exist")))

  /** Rows [[read]] returns, from the manifest alone: each entry's
    * footer row count minus its deletion-vector masked rows. No Spark
    * job, where `read().count()` scans every file. */
  def liveRowCount(): Long = manifestEntries(currentVersion.getOrElse(
    sys.error(s"table $root does not exist"))).map(_.liveRows).sum

  /** S4: time-travel read at an explicit version. Plans against the
    * manifest's recorded snapshot schema — no per-file inference. */
  def readVersion(v: Long): DataFrame = {
    require(manifestCommitted(v), s"version $v does not exist at $root")
    val m = readManifest(v)
    // zero entries is a real snapshot (TRUNCATE / declared-schema
    // CREATE) when the schema is recorded; without one there is no
    // file footer to plan from
    require(m.entries.nonEmpty || m.schema.isDefined,
      s"version $v of $root has an empty manifest and no recorded schema")
    readFiles(m, m.entries)
  }

  /** Plan a read over explicit manifest entries via a manifest-backed
    * [[org.apache.spark.sql.graftbridge.ManifestFileIndex]] (Delta's
    * TahoeFileIndex pattern). Partition COLUMNS come from the
    * manifest's recorded `partitionBy` + each entry's path-derived
    * partition values — never from directory inference, which cannot
    * represent one partition spread across several commit dirs — and
    * scan planning does ZERO filesystem listing: paths and exact sizes
    * are already in the manifest. Catalyst partition pruning on the
    * returned frame works as on any partitioned table. */
  private def readFiles(m: VersionManifest, entries: Seq[ManifestEntry],
      isStreaming: Boolean = false, withRowMeta: Boolean = false): DataFrame =
    logicalize(m, readFilesPhysical(m, entries, isStreaming, withRowMeta))

  private def readFilesPhysical(m: VersionManifest,
      entries: Seq[ManifestEntry],
      isStreaming: Boolean, withRowMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring}
    val (masked, plain) = entries.partition(_.dvDir.isDefined)
    if (masked.isEmpty) return rawScan(m, entries, isStreaming, withRowMeta)
    // DV-bearing files: read WITH per-row provenance, anti-join away the
    // masked (file, row_index) pairs, and only then drop the provenance
    // columns. Files without a DV never pay the join.
    val dv = readDvRows(masked.flatMap(_.dvDirs).distinct)
    val mdf = rawScan(m, masked, isStreaming, withRowMeta = true)
    val fileRel = fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
    val alive = mdf.join(dv,
      fileRel === dv("file_rel") &&
        col(graftbridge.ManifestScan.RowIndexCol) === dv("pos"),
      "left_anti")
    val trimmed =
      if (withRowMeta) alive
      else alive.drop(graftbridge.ManifestScan.FilePathCol,
        graftbridge.ManifestScan.RowIndexCol)
    if (plain.isEmpty) trimmed
    else rawScan(m, plain, isStreaming, withRowMeta).unionByName(trimmed)
  }

  /** Plan the scan with no DV application (the manifest entries' raw
    * parquet rows). */
  private def rawScan(m: VersionManifest, entries: Seq[ManifestEntry],
      isStreaming: Boolean, withRowMeta: Boolean,
      wholeFiles: Boolean = false): DataFrame = {
    val qualifiedRoot = fs.makeQualified(rootPath)
    val files = scanFiles(qualifiedRoot, entries)
    graftbridge.ManifestScan.parquetTable(spark, qualifiedRoot,
      snapshotSchema(m), m.partitionBy, files, isStreaming, withRowMeta,
      wholeFiles, scanSkipping(m, entries, files))
  }

  /** Entries as the scan's file index sees them: qualified path, exact
    * size and partition values. */
  private def scanFiles(qualifiedRoot: Path, entries: Seq[ManifestEntry])
      : Seq[graftbridge.ManifestFile] =
    entries.map(e => graftbridge.ManifestFile(
      new Path(qualifiedRoot, e.relPath).toString, e.bytes,
      e.partitionValues))

  /** Physical name of the materialized row-id column tracked rewrites
    * carry INSIDE their data files. Never part of the snapshot schema;
    * normal reads never request it. */
  private[graft] val RowIdPhysCol = "__graft_rid"

  /** Logical name of the stable row id [[readWithRowIds]] surfaces. */
  val RowIdCol = "_row_id"

  /** A file path as a DV-sidecar key: table-relative when the file
    * lives under this table's root, the FULL qualified path otherwise
    * (external files referenced by a shallow clone — fixed-length
    * prefix-stripping an unrelated absolute path would truncate
    * arbitrarily, collide, or throw when the clone root string is
    * longer than the source path). Column and driver-side renderings
    * must stay byte-identical; both live here. */
  private def fileRelCol(pathCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, substring, when}
    val prefix = fs.makeQualified(rootPath).toString + "/"
    when(pathCol.startsWith(lit(prefix)),
      substring(pathCol, prefix.length + 1, Int.MaxValue))
      .otherwise(pathCol)
  }

  /** [[fileRelCol]]'s key for the file at qualified path `abs`, on the
    * driver. The scan's `_metadata.file_path` is the path's URI form
    * (a space as `%20`, a literal `%` as `%25`, so a timestamp
    * partition's `00%3A00` arrives as `00%253A00`), so `abs` is
    * rendered the same way before the root prefix is stripped. */
  private[io] def renderKey(qualifiedRoot: String, abs: String): String = {
    val prefix = qualifiedRoot + "/"
    val uri = new Path(abs).toUri.toString
    if (uri.startsWith(prefix)) uri.substring(prefix.length) else uri
  }

  /** DV sidecar schema: the table-relative file path (as rendered by
    * the scan — see [[fileRelCol]]) and the masked row's ordinal
    * within that parquet file. */
  private val dvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_rel",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  private def readDvRows(dirs: Seq[String]): DataFrame =
    spark.read.schema(dvSchema)
      .parquet(dirs.map(d => new Path(rootPath, d).toString): _*)

  /** Chain cap: how many per-commit DV delta links a file may carry
    * before the NEXT DV commit folds its accumulated mask into that
    * commit's sidecar (collapsing the chain to one link). Folding
    * costs O(that file's mask) once per `cap` commits — amortized
    * O(changed rows) still — and bounds every reader's sidecar fan-in
    * without depending on the OPTIMIZE/REORG cadence. Spark conf
    * `graft.dv.maxChainLinks`, default 16. */
  private def maxDvChainLinks: Int =
    spark.conf.getOption("graft.dv.maxChainLinks").map(_.toInt)
      .getOrElse(16)

  /** The (file_rel, pos) pairs NEWLY masked going from each entry's
    * `fromChain` to its CURRENT chain — per-FILE precise across chain
    * folds. A fold writes one file's CUMULATIVE mask into the same
    * commit dir other files use as a plain delta link, so matching at
    * DIR granularity re-emits a folded file's pre-range rows as if
    * they were new; a dir's rows therefore count for a file ONLY when
    * that dir is an APPENDED link of that file's own chain, and a
    * file whose chain collapsed in the range (a fold) diffs its own
    * to-chain against its own from-chain, restricted to its path.
    * Cost: O(appended delta links + folded files' masks) sidecar rows
    * — never the table. Masks only GROW per row outside RESTORE
    * windows (callers gate on the operation), so to∖from is the
    * complete answer. */
  private def newlyMaskedPairs(
      changed: Seq[(ManifestEntry, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val qualifiedRoot = fs.makeQualified(rootPath)
    def rel(e: ManifestEntry): String = renderKey(qualifiedRoot.toString,
      new Path(qualifiedRoot, e.relPath).toString)
    // append class: the from-chain survives as a prefix of the
    // to-chain, so the new rows are exactly the appended links' rows
    // for this file; fold class: the chain was rewritten (cumulative
    // fold), diff the file's own chains
    val (appends, folds) = changed.partition { case (e, fromChain) =>
      fromChain.forall(e.dvDirs.contains) }
    def restricted(pairs: Seq[(String, String)]): DataFrame = {
      import spark.implicits._
      val parts = pairs.groupBy(_._2).toSeq.sortBy(_._1).map {
        case (dir, ps) =>
          val rows = readDvRows(Seq(dir))
          val rels = ps.map(_._1).distinct
          if (rels.size == 1)
            rows.filter(col("file_rel") === lit(rels.head))
          else rows.join(broadcast(rels.toDF("file_rel")),
            Seq("file_rel"), "left_semi")
      }
      parts.reduceOption(_ unionByName _).getOrElse(
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          dvSchema))
    }
    val deltaRows = restricted(appends.flatMap { case (e, fromChain) =>
      e.dvDirs.filterNot(fromChain.contains).map(d => rel(e) -> d) })
    if (folds.isEmpty) deltaRows
    else {
      val toRows = restricted(folds.flatMap { case (e, _) =>
        e.dvDirs.map(d => rel(e) -> d) })
      val fromRows = restricted(folds.flatMap { case (e, fc) =>
        fc.map(d => rel(e) -> d) })
      deltaRows.unionByName(toRows.exceptAll(fromRows))
    }
  }

  /** Deletes feed for DV-extended surviving files: scan ONLY those
    * files (raw, with row provenance) semi-joined against the
    * per-file newly-masked pairs — O(changed files + masked rows). */
  private def newlyMaskedRows(toM: VersionManifest,
      changed: Seq[(ManifestEntry, Seq[String])],
      isStreaming: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val newMask = newlyMaskedPairs(changed)
    val mdf = rawScan(toM, changed.map(_._1), isStreaming = isStreaming,
      withRowMeta = true)
    val fileRel = fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
    val deleted = mdf.join(newMask,
      fileRel === newMask("file_rel") &&
        col(graftbridge.ManifestScan.RowIndexCol) === newMask("pos"),
      "left_semi")
      .drop(graftbridge.ManifestScan.FilePathCol,
        graftbridge.ManifestScan.RowIndexCol)
    logicalize(toM, deleted)
  }

  /** Write ONE DML commit's DV sidecar at `dir`: the commit's new
    * delta pairs plus, for candidate files whose chain has reached
    * [[maxDvChainLinks]], their accumulated mask rows FOLDED in
    * (restricted to exactly those files — shared chain dirs also hold
    * other files' rows, which must not duplicate). Deltas are
    * disjoint from existing masks by construction (the matching scan
    * already applied them), so per-file counts in the new dir are
    * CUMULATIVE for folded files and DELTA for the rest — returned
    * alongside the folded relPath set so the commit half can
    * re-point chains accordingly.
    *
    * Cost: ONE write job. The per-file counts come from that write's
    * own tasks (a stats tracker counting the rows each committed task
    * wrote per `file_rel`), not from reading the sidecar back. */
  private def writeDvSidecar(newPairs: DataFrame,
      candidates: Seq[ManifestEntry],
      dir: Path): (Set[String], Map[String, Long]) = {
    val qualifiedRoot = fs.makeQualified(rootPath)
    def renderedRel(e: ManifestEntry): String =
      renderKey(qualifiedRoot.toString,
        new Path(qualifiedRoot, e.relPath).toString)
    val cap = maxDvChainLinks
    val foldable = candidates.filter(_.dvDirs.size >= cap)
    val out =
      if (foldable.isEmpty) newPairs
      else {
        import spark.implicits._
        val rels = foldable.map(renderedRel).toDF("file_rel")
        val accumulated = readDvRows(foldable.flatMap(_.dvDirs).distinct)
          .join(org.apache.spark.sql.functions.broadcast(rels),
            Seq("file_rel"), "left_semi")
        newPairs.unionByName(accumulated)
      }
    val perFile = new graftbridge.RowsPerKeyTracker(ordinal = 0)
    graftbridge.TrackedWrite.parquet(out.select("file_rel", "pos"),
      dir.toString, tableWriteOptions, Seq(perFile))
    (foldable.map(_.relPath).toSet, perFile.counts)
  }

  /** One candidate entry's post-commit form under a [[writeDvSidecar]]
    * result: `n` rows of it in the new sidecar (cumulative if the
    * file's chain was folded there, delta otherwise), `None` when
    * fully dead. */
  private def maskedEntry(e: ManifestEntry, n: Long,
      folded: Set[String], dvRel: String): Option[ManifestEntry] =
    if (n == 0L) Some(e) // nothing of this file masked this commit
    else if (folded.contains(e.relPath)) {
      if (n >= e.rows) None
      else Some(e.copy(dvDir = Some(dvRel), dvRows = n))
    } else {
      val total = e.dvRows + n
      if (total >= e.rows) None
      else Some(e.copy(dvDir = Some((e.dvDirs :+ dvRel).mkString(",")),
        dvRows = total))
    }

  /** The all-rows-dead fallback entry: the manifest must stay
    * non-empty, so ONE candidate survives fully masked (reads yield
    * zero rows with the right schema). */
  private def fullyMaskedKeeper(h: ManifestEntry, folded: Set[String],
      dvRel: String): ManifestEntry = {
    val chain = if (folded.contains(h.relPath)) dvRel
      else (h.dvDirs :+ dvRel).mkString(",")
    h.copy(dvDir = Some(chain), dvRows = h.rows)
  }

  /** Number of data files version `v` ADDED relative to `v-1` (for
    * v=0: the creating commit's file count) — the admission-control
    * unit behind the streaming source's `maxFilesPerBatch` (Delta's
    * `maxFilesPerTrigger` counts the same thing). Two manifest reads,
    * O(files) set difference, no data touched; callers memoize per
    * poll loop. */
  def addedFileCount(v: Long): Long =
    new FeedWindow(v - 1, v).delta(v - 1, v).added.size.toLong

  /** S4: newest version committed at or before `ts` (ISO-8601 instant)
    * — Delta `timestampAsOf`. Commit times come from the history files;
    * RESTORE commits count (they are real versions here). */
  def versionAsOf(ts: String): Long = {
    val committed = committedVersions.toSet
    versionIn(history(Int.MaxValue).filter(e => committed.contains(e.version)),
      ts, forward = false)
      .getOrElse(sys.error(s"no version of $root committed at or before $ts"))
  }

  /** S4: time-travel read by timestamp. */
  def readAsOf(ts: String): DataFrame = readVersion(versionAsOf(ts))

  /** A version's manifest entries (file list with rows/bytes/stats) —
    * the metadata surface for table detail / tooling. */
  def manifestEntries(v: Long): Seq[ManifestEntry] = readManifest(v).entries

  /** The current snapshot's manifest — test/diagnostic access for the
    * skipping analyzers ([[predicateMayMatch]]). */
  private[graft] def currentManifest: VersionManifest =
    readManifest(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))

  /** Exact multi-value partition read: plans ONLY the files whose
    * partition value for `column` is in `values`. Membership on the
    * path-derived partition value is exact (a file's partition value IS
    * every row's value for that column), so no row-level predicate is
    * re-applied — and no N-literal `isin` ever reaches the plan, which
    * is what makes this the backfill-scale form (10⁴ touched
    * partitions stay a driver-side set lookup, not a 10⁴-term
    * predicate). Files without a recorded value for `column` are
    * EXCLUDED — the caller is selecting partitions, and a value-less
    * file belongs to none — unlike the conservative range reads; use
    * [[readMatching]] with `PartitionEq` when unsure of the layout. */
  def readWherePartitionIn(column: String, values: Set[String],
      atVersion: Option[Long] = None): DataFrame = {
    val v = atVersion.orElse(currentVersion)
      .getOrElse(sys.error(s"table $root does not exist"))
    val m = readManifest(v)
    require(m.partitionBy.contains(column),
      s"$column is not a partition column of $root " +
        s"(partitioned by: ${m.partitionBy.mkString(",")})")
    val keep = m.entries.filter(_.partitionValues.get(column).exists(values))
    if (keep.isEmpty) readVersion(v).limit(0) else readFiles(m, keep)
  }

  /** Manifest-pruned read (Delta's stats-based file skipping and
    * partition pruning) of a conjunction of typed predicates:
    * partition equalities and typed ranges combine in ONE call, ONE
    * manifest pass, and one scan over the files that may hold a
    * matching row (a file in the right partition but the wrong
    * timestamp range is pruned, and vice versa). The manifest answers
    * from one small file already in hand what parquet's own row-group
    * skipping would answer by opening every file's footer. Each
    * predicate's row filter ([[VersionedTable.TablePredicate.condition]])
    * is re-applied on top for exactness; files a conjunct has no
    * information about are conservatively read. */
  def readMatching(preds: VersionedTable.TablePredicate*): DataFrame =
    readMatchingAt(None, preds: _*)

  /** [[readMatching]] pinned at a version: the group-scoped
    * re-aggregation read of an MV REFRESH (min/max after deletes)
    * must see exactly the snapshot the basis advances to — a racing
    * commit between the change-feed read and the re-aggregation would
    * otherwise leak future rows into partials stamped with an older
    * basis. */
  def readMatchingAt(atVersion: Option[Long],
      preds: VersionedTable.TablePredicate*): DataFrame = {
    require(preds.nonEmpty, "readMatching needs at least one predicate")
    val v = atVersion.orElse(currentVersion)
      .getOrElse(sys.error(s"table $root does not exist"))
    val m = readManifest(v)
    val keep = entriesMatching(m, preds)
    // every file excluded: an empty frame with the snapshot schema
    (if (keep.isEmpty) readVersion(v).limit(0) else readFiles(m, keep))
      .filter(preds.map(_.condition).reduce(_ && _))
  }

  /** The entries of `m` a [[readMatching]] with `preds` plans: those
    * [[predicateMayMatch]] admits for the conjunction of the
    * predicates' row filters, and the generated-column tests keep. */
  private def entriesMatching(m: VersionManifest,
      preds: Seq[VersionedTable.TablePredicate]): Seq[ManifestEntry] = {
    val mayMatch = preds.map(_.condition).reduceOption(_ && _)
      .fold((_: ManifestEntry) => true)(predicateMayMatch(m, _))
    val gen = generatedSurvives(m, preds)
    m.entries.filter(e => mayMatch(e) && gen(e))
  }

  /** The manifest entries a [[readMatching]] with these predicates
    * would plan — the observable the pruning specs assert on. */
  private[graft] def matchingEntries(
      preds: VersionedTable.TablePredicate*): Seq[ManifestEntry] =
    entriesMatching(currentManifest, preds)

  /** SCAN-ECONOMICS REPORT for a predicated read — the audit number a
    * table owner actually watches: how many files / bytes / rows a
    * read with these predicates PLANS versus the snapshot total,
    * computed with the very survive tests the reads use (so the
    * report IS the plan, not an estimate). Pure driver-side manifest
    * arithmetic — zero data IO — which is what makes "is my layout
    * still earning its keep" a free question to ask on a 100 TB
    * table. */
  def pruningReport(preds: VersionedTable.TablePredicate*)
      : VersionedTable.PruningReport = {
    val m = currentManifest
    val all = m.entries
    val kept = entriesMatching(m, preds)
    VersionedTable.PruningReport(
      plannedFiles = kept.size, totalFiles = all.size,
      plannedBytes = kept.map(_.bytes).sum, totalBytes = all.map(_.bytes).sum,
      plannedRows = kept.map(_.liveRows).sum,
      totalRows = all.map(_.liveRows).sum)
  }

  /** DELETE whole partitions as a METADATA-ONLY commit (Delta's
    * partition-delete fast path — the GDPR-by-tenant / retention
    * shape): the new manifest simply omits every file whose partition
    * value for `column` is in `values`; no data is read, written, or
    * moved, and prior versions still see the rows until [[vacuum]].
    * Rebases over concurrent appends — and deletes a racing appender's
    * file too when it lands in a deleted partition, which IS the
    * serial semantics (append then "delete ALL rows of partition").
    * Refuses layouts with value-less files (their rows can't be proven
    * outside the deleted partitions). Returns the new version. */
  def deletePartitionIn(column: String, values: Set[String]): Long = {
    require(values.nonEmpty, "deletePartitionIn needs at least one value")
    commitWithRebase(rebase = true) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(cur.partitionBy.contains(column),
        s"$column is not a partition column of $root " +
          s"(partitioned by: ${cur.partitionBy.mkString(",")})")
      require(cur.entries.forall(_.partitionValues.contains(column)),
        s"$root has files without a $column partition value; " +
          "partition delete cannot prove their rows are unaffected")
      val entries = cur.entries
        .filterNot(_.partitionValues.get(column).exists(values))
      val next = curV + 1
      writeManifest(next, cur.copy(entries = entries))
      appendHistory(next,
        s"DELETE $column IN (${values.toSeq.sorted.mkString(",")})",
        entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Row-level DELETE of `column` ∈ [lo, hi] as a new version, doing
    * the minimum IO the manifest permits: files whose recorded stats
    * or partition value PROVE no row matches are re-referenced
    * untouched (never read); only possibly-matching files are read and
    * rewritten with the survivors. Files with no usable stats are
    * conservatively rewritten. Concurrent appends of provably-outside
    * rows rebase cleanly; an append that MIGHT hold matching rows
    * aborts the delete loudly (its rows were never scanned). */
  def deleteBetween(column: String, lo: Double, hi: Double): Long = {
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val matches = VersionedTable.NumRange(column, lo, hi).condition
    val mayMatch = predicateMayMatch(m, matches)
    val candidates = m.entries.filter(mayMatch)
    if (candidates.isEmpty) return curV // provably nothing to delete
    // tracked tables rewrite WITH each survivor's materialized row id
    val src = if (m.rowIdHw.isDefined)
      logicalize(m, readFilesPhysicalRid(m, candidates))
    else readFiles(m, candidates)
    val survivors = src.filter(!matches)
    val v = replaceWhere(survivors, e => !mayMatch(e),
      s"DELETE $column IN [$lo,$hi]", basisVersion = Some(curV))
    refreshBloomIndexes(v)
    v
  }

  /** Row-level UPDATE (Delta `UPDATE ... WHERE column BETWEEN`):
    * rows with `column` ∈ [lo, hi] take each `set` expression, all
    * others pass through — and only possibly-matching files are read
    * and rewritten, everything else re-referenced untouched. `set`
    * values are arbitrary Column expressions over the row (cast back
    * to the column's declared type; the snapshot schema never
    * changes). Partition columns can't be updated in place (rows
    * would have to MOVE partitions — that's a MERGE). Concurrency as
    * [[deleteBetween]]. */
  def updateBetween(column: String, lo: Double, hi: Double,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    require(set.nonEmpty, "updateBetween needs at least one column to set")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    // `src` below is LOGICALIZED, so key validation and the output
    // projection run against the LOGICAL schema — on a mapped table
    // (post rename/drop) the physical snapshot names would not even
    // resolve (replaceWhere delogicalizes on write either way)
    val schema = logicalSchema(m)
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"update sets unknown column '$k' at $root"))
    require(!set.keys.exists(m.partitionBy.contains),
      s"cannot update partition columns of $root in place " +
        "(rows would change partitions) — use a MERGE")
    val matches = VersionedTable.NumRange(column, lo, hi).condition
    val mayMatch = predicateMayMatch(m, matches)
    val candidates = m.entries.filter(mayMatch)
    if (candidates.isEmpty) return curV // provably nothing to update
    val tracked = m.rowIdHw.isDefined
    val src = if (tracked) logicalize(m, readFilesPhysicalRid(m, candidates))
              else readFiles(m, candidates)
    val outCols = schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(expr) =>
          when(matches, expr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    // an updated row KEEPS its row id — that is what lets the change
    // feed call it an update instead of a delete+insert
    } ++ (if (tracked) Seq(col(RowIdPhysCol)) else Seq.empty)
    val v = replaceWhere(src.select(outCols: _*), e => !mayMatch(e),
      s"UPDATE $column IN [$lo,$hi]", basisVersion = Some(curV))
    refreshBloomIndexes(v)
    v
  }

  /** Row-level DELETE of `column` ∈ [lo, hi] via DELETION VECTORS
    * (Delta's DV mode): instead of rewriting every possibly-matching
    * file, write a sidecar of (file, row_index) pairs for the matched
    * rows and point the affected manifest entries at it; reads
    * anti-join the masks away. Write amplification is O(deleted rows)
    * — 8 bytes a row — instead of O(size of every touched file), which
    * at 100 TB is the difference between a KB-scale commit and
    * rewriting terabytes to delete a few rows. Stats/partition pruning
    * still applies (a DV only shrinks a file's true range, so recorded
    * stats stay conservative); files the manifest PROVES unaffected
    * are neither read nor touched. A file whose every row is masked is
    * dropped from the manifest outright. Repeated DV deletes UNION
    * into a fresh sidecar (the new commit's masks replace the old
    * pointers); [[compact]] purges DVs by rewriting survivors.
    * Concurrency: rebases over commits that leave every candidate
    * file untouched; fails loudly if a candidate was rewritten or
    * re-masked mid-flight (same lost-update rule as [[replaceWhere]]).
    * Isolation level is WRITE-SERIALIZABLE, matching Delta's default:
    * a concurrent APPEND whose new rows fall inside [lo, hi] commits
    * cleanly and those rows SURVIVE the delete — the delete's mask set
    * was computed against its basis snapshot and new files are not
    * re-scanned on rebase. This is the documented Delta behavior for
    * blind appends vs. DELETE (appends never conflict under
    * WriteSerializable); callers needing serial DELETE-then-append
    * semantics must order the operations themselves.
    * Prior versions still read the unmasked rows (snapshot isolation);
    * [[vacuum]] keeps every sidecar a retained version references. */
  def deleteVectorized(column: String, lo: Double, hi: Double): Long = {
    val matches = VersionedTable.NumRange(column, lo, hi).condition
    deleteVectorizedCore(matches, s"DELETE DV $column IN [$lo,$hi]")(
      _.filter(matches))
  }

  /** Row-level DELETE of every row whose `column` appears in `keys` —
    * the DISTRIBUTED form of an `IN` delete: the key frame (e.g. a
    * dedup pass's victim list) never collects to the driver; the mask
    * is a semi-join of the candidate scan against it, so the only
    * driver-sized values are the key's [min, max] envelope
    * ([[keyEnvelope]]) that skips files. `keys` must have exactly one
    * column (any name, castable to the target column's type). Same
    * WriteSerializable semantics as the range flavor. */
  def deleteVectorizedKeys(column: String, keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    require(keys.columns.length == 1,
      s"deleteVectorizedKeys expects a single-column key frame, got " +
        s"[${keys.columns.mkString(",")}]")
    val k = keys.select(col(keys.columns.head).as(column)).distinct()
      .localCheckpoint() // the envelope agg AND the mask both read it
    val env = k.agg(count(lit(1)), keyEnvelope(k, column,
      logicalSchema(readManifest(curV))(column).dataType): _*).head()
    if (env.getLong(0) == 0L) return curV // empty key frame: nothing to do
    val range =
      if (env.length < 3) "" else s"[${env.get(1)},${env.get(2)}]"
    deleteVectorizedCore(envelopePredicate(column, env, 1),
      s"DELETE DV $column IN KEYS$range")(_.join(k, Seq(column), "left_semi"))
  }

  /** Row-level DELETE of every row satisfying an ARBITRARY predicate
    * via deletion vectors — the `DELETE FROM t WHERE <anything>` a
    * SQL user actually writes, at the same O(deleted rows) write
    * amplification as [[deleteVectorized]]. Candidate files come
    * from [[predicateMayMatch]]'s data skipping: the predicate's
    * comparison / IN / BETWEEN / prefix conjuncts are tested against
    * each file's recorded stats (numeric and short-ASCII string
    * min/max, exact partition values), so a selective predicate on a
    * clustered column reads only the files it could touch — exactly
    * Delta's data-skipping-for-DML shape. `IN` tests each listed
    * value, so an id-set delete (the survivor list a dedup pipeline
    * produces) skips the files between the ids too. Conjuncts the
    * analyzer cannot prove anything about are conservatively
    * non-skipping; the row mask itself is always the exact
    * `filter(pred)` (rows where the predicate is NULL survive — SQL
    * three-valued WHERE). Same WriteSerializable concurrency as the
    * range flavor. */
  def deleteVectorizedWhere(pred: org.apache.spark.sql.Column): Long =
    deleteVectorizedCore(pred, s"DELETE DV WHERE $pred")(_.filter(pred))

  /** CONVERT TO versioned table, IN PLACE (Delta `CONVERT TO DELTA`):
    * adopt an existing plain-parquet directory — flat or
    * hive-partitioned — as this table's version 0 WITHOUT moving,
    * rewriting, or even reading a data page. The creating manifest
    * simply references every `.parquet` file found under the root,
    * with row counts and min/max stats read from the parquet FOOTERS
    * (one driver-side metadata read per file, parallelized — the same
    * machinery every commit already uses), and hive `col=value` path
    * segments become partition values exactly as written commits
    * record them. From v0 on, the adopted files are first-class:
    * time travel, appends, MERGE, DV deletes, OPTIMIZE, CDF, and the
    * streaming source all work over them unchanged — a 100 TB legacy
    * parquet lake upgrades to versioned semantics with one manifest
    * write. Refuses directories that are already versioned tables and
    * partition columns some file's path does not carry (their rows
    * could not be proven into any partition). Returns version 0. */
  def convertInPlace(partitionBy: Seq[String] = Seq.empty): Long = {
    require(currentVersion.isEmpty && !fs.exists(manifestsRoot),
      s"$root is already a versioned table — CONVERT adopts plain " +
        "parquet directories only")
    val entries = listCommitFiles(rootPath)
    require(entries.nonEmpty, s"no parquet files under $root to convert")
    partitionBy.foreach(p => require(
      entries.forall(_.partitionValues.contains(p)),
      s"convert: not every file under $root carries a $p=... path " +
        "segment; rows outside the layout cannot be adopted as " +
        "partitioned"))
    // schema via Spark's reader (partition discovery types the hive
    // columns exactly as a written table's snapshot records them)
    val schema = spark.read.parquet(root).schema
    writeManifest(0L, VersionManifest(Some(schema), entries, partitionBy))
    appendHistory(0L, "CONVERT", entries.map(_.liveRows).sum)
    pointTo(0L)
    0L
  }

  /** COPY INTO (Delta `COPY INTO`): idempotent FILE-LEVEL ingest of a
    * directory of raw files — the scheduled-landing-zone loader.
    * Re-running after a crash or on a cron never double-loads a file;
    * files that appeared since the last run load exactly once.
    *
    * Exactly-once protocol (intent ledger + commit confirmation):
    * a run writes its file list to `_copy_ledger/` tagged with a
    * fresh token, THEN commits the data with the token in the history
    * operation line. A ledger entry whose token never reached the
    * history is a crashed intent — its files stay eligible — so the
    * crash window between ledger and commit re-loads nothing and
    * loses nothing. Already-loaded files are the ledger entries whose
    * tokens ARE confirmed; the set difference is driver-side O(file
    * names), the same metadata scale the manifest itself holds. The
    * ledger survives vacuum (GC only sweeps `_data`/`_bloom`).
    * Concurrency: one scheduler owns COPY INTO per table (two
    * concurrent runs could both see a file unconfirmed — same
    * single-loader discipline as Delta's COPY INTO).
    *
    * Returns the committed version (current version when nothing new
    * to load). */
  def copyInto(srcDir: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Long = {
    val srcPath = new Path(srcDir)
    require(fs.exists(srcPath), s"COPY INTO source $srcDir does not exist")
    val suffix = "." + format
    val it = fs.listFiles(srcPath, true)
    val srcFiles: Seq[String] = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(s => fs.makeQualified(s.getPath).toString).toSeq.sorted
    val tokRe = "COPY INTO token=([0-9a-f-]+)".r
    val confirmed: Set[String] =
      if (!exists) Set.empty
      else history(limit = Int.MaxValue)
        .flatMap(h => tokRe.findFirstMatchIn(h.operation).map(_.group(1)))
        .toSet
    val ledgerDir = new Path(root, "_copy_ledger")
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val confirmedFiles: Set[String] =
      if (confirmed.isEmpty || !fs.exists(ledgerDir)) Set.empty
      else spark.read.parquet(ledgerDir.toString)
        .filter(col("token").isin(confirmed.toSeq: _*))
        .select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
    val newFiles = srcFiles.filterNot(confirmedFiles.contains)
    if (newFiles.isEmpty)
      return currentVersion.getOrElse(sys.error(
        s"COPY INTO $root: source $srcDir holds no .$format files and " +
          "the table does not exist yet"))
    val token = java.util.UUID.randomUUID().toString
    newFiles.toDF("file").withColumn("token", lit(token))
      .coalesce(1).write.mode(SaveMode.Append).parquet(ledgerDir.toString)
    val df = spark.read.format(format).options(options).load(newFiles: _*)
    val mode = if (exists) SaveMode.Append else SaveMode.Overwrite
    write(df, mode, s"COPY INTO token=$token")
  }

  /** SHALLOW CLONE (Delta `CLONE` semantics): commit a new table at
    * `destRoot` whose v0 manifest REFERENCES this table's current
    * data files by qualified absolute path — ZERO data files copied,
    * the clone is one manifest write regardless of table size. At
    * 100 TB this is the instant dev/test sandbox: the clone reads the
    * pinned snapshot, and writes to it (appends, DV deletes,
    * compaction) land under the clone's own root without touching the
    * source; conversely later source commits never move the clone
    * (its file list is copied, not linked).
    *
    * Hadoop `Path(parent, child)` resolution is what makes absolute
    * entries free: a qualified-absolute `relPath` overrides the
    * clone's root at scan planning, stats/partition pruning included
    * (partition values derive from the path's `col=value` segments,
    * which the absolute path retains).
    *
    * DV sidecars are the one thing COPIED (O(masked rows), never data
    * rows): their `file_rel` keys are rendered against the owning
    * root, so the source's sidecar strings would never match the
    * clone's scan rendering — the clone gets its own sidecar with
    * re-rendered keys.
    *
    * Caveat (same as Delta shallow clones): `vacuum` on the SOURCE
    * does not know about clones — vacuuming source versions whose
    * files a clone still references breaks the clone. Clone for
    * short-lived sandboxes, or retain source history for the clone's
    * lifetime. */
  def shallowCloneTo(destRoot: String,
      asOfVersion: Option[Long] = None): VersionedTable = {
    // CLONE ... VERSION AS OF: pin the clone to any retained version
    // (the "reproduce last week's training run" sandbox); default is
    // the current snapshot
    val curV = asOfVersion.getOrElse(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))
    require(manifestCommitted(curV),
      s"version $curV does not exist at $root")
    val m = readManifest(curV)
    val dest = new VersionedTable(spark, destRoot)
    require(dest.currentVersion.isEmpty,
      s"clone destination $destRoot already exists")
    val srcQualified = fs.makeQualified(rootPath)
    def absPath(rel: String): String = new Path(srcQualified, rel).toString
    // both renderings go through renderKey, matching the scan's
    // fileRelCol exactly: a source-internal file is source-relative in
    // the SOURCE sidecar, and — being external to the clone — its
    // FULL qualified path in the CLONE's sidecar (cloning a clone
    // keeps already-external entries stable the same way)
    def srcRendered(rel: String): String =
      renderKey(srcQualified.toString, absPath(rel))
    val destQualified = dest.fs.makeQualified(dest.rootPath).toString
    def destRendered(abs: String): String = renderKey(destQualified, abs)
    val masked = m.entries.filter(_.dvDir.isDefined)
    val newDvRel: Option[String] =
      if (masked.isEmpty) None
      else {
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val mapping = masked.map { e =>
          (srcRendered(e.relPath), destRendered(absPath(e.relPath)))
        }.toDF("file_rel", "_new_rel")
        val dir = dest.newCommitDir(0L)
        readDvRows(masked.flatMap(_.dvDirs).distinct)
          .join(mapping, Seq("file_rel"))
          .select(col("_new_rel").as("file_rel"), col("pos"))
          .write.mode(SaveMode.Overwrite).parquet(dir.toString)
        Some(dest.relativize(dir))
      }
    val entries = m.entries.map { e =>
      e.copy(relPath = absPath(e.relPath),
        dvDir = e.dvDir.map(_ => newDvRel.get))
    }
    dest.writeManifest(0L, m.copy(entries = entries))
    dest.appendHistory(0L, s"CLONE $root@v$curV",
      entries.map(_.liveRows).sum)
    dest.pointTo(0L)
    dest
  }

  /** DEEP CLONE (Delta `CLONE ... DEEP`): materialize the pinned
    * snapshot at `destRoot` by BYTE-COPYING its data files and DV
    * sidecars in one distributed job, then committing a v0 manifest
    * whose entries are the source's VERBATIM. Because the copy
    * preserves each file's relative layout, everything the manifest
    * derives from paths or files carries unchanged: per-file stats
    * and partition values (path `col=value` segments), row-tracking
    * base ids (`rowIdHw` and byte-identical files), and DV sidecar
    * `file_rel` keys (source-internal files render the same relative
    * key under either root) — the clone is immediately
    * indistinguishable from the source snapshot, minus the history.
    *
    * Unlike [[shallowCloneTo]], the clone owns its bytes: source
    * VACUUM/retention can never break it — the trade is one
    * distributed copy job, O(live files), executed by executors (the
    * driver only ships the O(files) relative-path list). Bloom-index
    * sidecars are NOT copied — lookups on the clone degrade safely to
    * reading all files until `buildBloomIndex` runs there.
    *
    * Deep-cloning a SHALLOW clone is refused (its entries reference
    * external files whose hive segments this table's root does not
    * own); `compact()` the shallow clone first to localize its bytes. */
  def deepCloneTo(destRoot: String,
      asOfVersion: Option[Long] = None): VersionedTable = {
    val curV = asOfVersion.getOrElse(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))
    require(manifestCommitted(curV),
      s"version $curV does not exist at $root")
    val m = readManifest(curV)
    require(m.entries.forall(e => !new Path(e.relPath).isAbsolute),
      s"deep clone of $root would copy external (shallow-clone) file " +
        "references; compact() first to localize them, then deep clone")
    val dest = new VersionedTable(spark, destRoot)
    require(dest.currentVersion.isEmpty,
      s"clone destination $destRoot already exists")
    // rel → rel copy list: data files verbatim; each DV dir's part
    // files listed driver-side (O(sidecar part files), names only)
    val dvRels: Seq[String] = m.entries.flatMap(_.dvDirs).distinct
      .flatMap { d =>
        fs.listStatus(new Path(rootPath, d)).filter(_.isFile)
          .map(s => d + "/" + s.getPath.getName)
      }
    val rels = m.entries.map(_.relPath) ++ dvRels
    val srcRootStr = fs.makeQualified(rootPath).toString
    val destRootStr = dest.fs.makeQualified(dest.rootPath).toString
    val par = math.max(1, math.min(rels.size, 64))
    spark.sparkContext.parallelize(rels, par).foreach { rel =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val sp = new Path(srcRootStr, rel)
      val dp = new Path(destRootStr, rel)
      if (!org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
          dp.getFileSystem(conf), dp, false, true, conf))
        sys.error(s"deep clone: copy failed for $rel")
    }
    dest.writeManifest(0L, m)
    dest.appendHistory(0L, s"CLONE DEEP $root@v$curV",
      m.entries.map(_.liveRows).sum)
    dest.pointTo(0L)
    dest
  }

  /** The DV delete every flavor shares: the files [[predicateMayMatch]]
    * admits for `skip` are the candidates, and `mask` picks the rows
    * of their scan to retire. */
  private def deleteVectorizedCore(skip: org.apache.spark.sql.Column,
      opDesc: String)(mask: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val mayMatch = predicateMayMatch(m, skip)
    val candidates = m.entries.filter(mayMatch)
    if (candidates.isEmpty) return curV // provably nothing to delete
    val qualifiedRoot = fs.makeQualified(rootPath)
    // newly-matching LIVE rows of candidate files, as (file_rel, pos);
    // readFiles applies existing masks, so already-dead rows are never
    // re-scanned into the new sidecar by the scan itself…
    val matches = mask(readFiles(m, candidates, withRowMeta = true))
      .select(
        fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
          .as("file_rel"),
        col(graftbridge.ManifestScan.RowIndexCol).as("pos"))
    // …and the existing masks stay where they are: this commit writes
    // ONLY its own delta pairs and APPENDS one link to each touched
    // file's DV chain — O(this delete's rows) written, whatever the
    // accumulated mask size (the amortized-cost claim holds
    // unconditionally under sustained churn; files at the chain cap
    // fold their mask here, once per cap commits).
    val dir = newCommitDir(curV + 1)
    val (folded, counts) = writeDvSidecar(matches, candidates, dir)
    val dvRel = relativize(dir)
    // a manifest entry's path as the scan renders it (Path.toString
    // normalization) — the key `counts` is expressed in
    def renderedRel(e: ManifestEntry): String =
      renderKey(qualifiedRoot.toString,
        new Path(qualifiedRoot, e.relPath).toString)
    val candByPath = candidates.map(e => e.relPath -> e).toMap
    commitWithRebase(rebase = true) { () =>
      val nowV = currentVersion.get
      val now = readManifest(nowV)
      val nowByPath = now.entries.map(e => e.relPath -> e).toMap
      candidates.foreach { c =>
        val n = nowByPath.getOrElse(c.relPath, sys.error(
          s"concurrent write conflict at $root: ${c.relPath} was " +
            "rewritten while a DV delete was in flight; re-run against " +
            "the new snapshot"))
        if (n.dvDir != c.dvDir) sys.error(
          s"concurrent write conflict at $root: ${c.relPath} was " +
            "re-masked while a DV delete was in flight; re-run against " +
            "the new snapshot")
      }
      val entries = now.entries.flatMap { e =>
        if (!candByPath.contains(e.relPath)) Some(e)
        else maskedEntry(e, counts.getOrElse(renderedRel(e), 0L),
          folded, dvRel)
      } match {
        // every row of the table deleted: keep ONE fully-masked entry so
        // the manifest stays non-empty (reads yield 0 rows, right schema)
        case Seq() => Seq(fullyMaskedKeeper(candidates.head, folded, dvRel))
        case es => es
      }
      val next = nowV + 1
      writeManifest(next, now.copy(entries = entries))
      appendHistory(next, opDesc, entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** The READ half of a stats-pruned key-scoped rewrite (the Delta
    * MERGE touched-files shape, exposed for key-scoped folds like the
    * streaming CDC apply sink): the scan of every file that MAY hold a
    * row satisfying `pred` ([[predicateMayMatch]]) — ALL rows of those
    * files, DVs applied — plus the predicate marking the entries that
    * were NOT planned (the manifest PROVES them free of matches, so a
    * [[replaceWhere]] with this `keep` re-references them untouched)
    * and the snapshot version the scan planned against (hand it to
    * replaceWhere's `basisVersion` so a racing commit is caught, not
    * lost). On row-tracked tables the rewritten rows take fresh row
    * ids, as any MERGE rewrite does. */
  def scanMayMatch(pred: org.apache.spark.sql.Column)
      : (DataFrame, ManifestEntry => Boolean, Long) = {
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val mayMatch = predicateMayMatch(m, pred)
    val candidates = m.entries.filter(mayMatch)
    val scan =
      if (candidates.isEmpty) readVersion(curV).limit(0)
      else readFiles(m, candidates)
    (scan, e => !mayMatch(e), curV)
  }

  /** THE file-skipping test (Delta's stats-based skipping and
    * partition pruning), for every read and DML entry: may manifest
    * entry `e` hold a row satisfying `pred`? Walks the Catalyst tree of
    * `pred` and composes per-file tests from the conjuncts it can
    * reason about — `=`, `<`, `<=`, `>`, `>=`, `<=>`, `BETWEEN`
    * (parses to AND), `IN` (each listed value), and
    * `startsWith`/prefix-`LIKE`, each against a bare column and a
    * literal, pruned through the manifest's numeric or short-ASCII
    * string min/max stats or the file's partition value — plus
    * `IS [NOT] NULL` against recorded per-file null counts (and
    * partition values, which prove a column non-null wholesale). AND
    * needs both sides possible, OR either; everything else — NOT,
    * casts, cross-column comparisons, scalar functions — is
    * conservatively non-skipping (the test answers "may match"; the
    * row-level filter decides).
    *
    * Values compare the way Spark compares them: a literal, and a
    * partition path value, go through Spark's own `Cast` to the
    * column's type in the session time zone (the cast the scan decodes
    * partition values with, [[graftbridge.ManifestScan.castValue]]),
    * then compare in the stats' units (epoch days for dates, epoch
    * micros for timestamps, doubles for numerics). A cast that throws
    * or yields null refuses to prune, and so do a string bound on a
    * numeric column, a bound beyond 2^53 (stats are doubles), a NaN,
    * and decimal stats (parquet records them unscaled). Strings
    * compare as strings only on a declared string column; strict
    * bounds are widened to inclusive (a superset — sound). A file
    * holding NaN records no range for that column (the footer scrape
    * drops it), so its rows above every bound stay reachable. The walk
    * runs on the UNRESOLVED tree, so no implicit casts hide a column. */
  private[graft] def predicateMayMatch(m: VersionManifest,
      pred: org.apache.spark.sql.Column): ManifestEntry => Boolean =
    exprMayMatch(m, graftbridge.ColumnBridge.catalystExpression(pred),
      logicalSchema(m), physFor(m, _))

  /** [[predicateMayMatch]] for the filters Spark pushes into a scan of
    * this table's files: resolved expressions over PHYSICAL column
    * names (a renamed column reaches the scan under its physical name),
    * so the same analyzer skips files for reads and for DML. */
  private def scanSkipping(m: VersionManifest,
      entries: Seq[ManifestEntry], files: Seq[graftbridge.ManifestFile])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        graftbridge.ManifestFile => Boolean = {
    case Seq() => _ => true
    case filters =>
      val test = exprMayMatch(m,
        filters.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)),
        snapshotSchema(m), identity)
      val kept = files.iterator.zip(entries.iterator)
        .collect { case (f, e) if test(e) => f.path }.toSet
      f => kept(f.path)
  }

  private def exprMayMatch(m: VersionManifest,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType, physOf: String => String)
      : ManifestEntry => Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val partCols = m.partitionBy.toSet
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val all: ManifestEntry => Boolean = _ => true
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def typeOf(n: String): Option[DataType] =
      schema.fields.find(_.name == n).map(_.dataType)
    // a catalyst value in the stats' units: doubles for numerics, epoch
    // days for dates, epoch micros for timestamps (what the footer
    // scrape records); NaN has no place in a range
    def units(v: Any, dt: DataType): Option[Double] = (dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType =>
        Some(v.asInstanceOf[Number].doubleValue)
      case _: DecimalType => Some(v.asInstanceOf[Decimal].toDouble)
      case _ => None
    }).filterNot(_.isNaN)
    def cast(v: Any, from: DataType, to: DataType): Option[Any] =
      if (from == to) Some(v)
      else if (!Cast.canCast(from, to)) None
      else scala.util.Try(graftbridge.ManifestScan.castValue(v, from, to, tz))
        .toOption.flatMap(Option(_))
    // a literal compared with column `n`: in the stats' units together
    // with the type both sides compare in, or a string against a
    // string column. A number meets a numeric column as is; any other
    // literal casts to the column's type (the analyzer casts a string
    // literal to a date, timestamp or numeric column); against a
    // string column Spark casts the COLUMN to the literal's type
    // (numbers to double), so partition values decode to that. A
    // string meets a numeric column only as a `point` (=, <=>, IN):
    // string BOUNDS on a numeric column never prune
    def lift(n: String, e: Expression, point: Boolean)
        : Option[Either[(Double, DataType), String]] = (e, typeOf(n)) match {
      case (Literal(v, lt), Some(ct)) if v != null => (lt, ct) match {
        case (StringType, StringType) => Some(scala.Right(v.toString))
        case (StringType, _: NumericType) if !point => None
        case (_: NumericType, _: NumericType) =>
          units(v, lt).map(d => scala.Left((d, ct)))
        case (_, StringType) =>
          val cmp = if (lt.isInstanceOf[NumericType]) DoubleType else lt
          cast(v, lt, cmp).flatMap(units(_, cmp)).map(d => scala.Left((d, cmp)))
        case _ =>
          cast(v, lt, ct).flatMap(units(_, ct)).map(d => scala.Left((d, ct)))
      }
      case _ => None
    }
    // may a file hold a row of `n` in [lo, hi] (units of `cmp`)?
    // Partition values decode to `cmp` once per distinct value; stats
    // are in the column's own units. Unknown means yes.
    def range(n: String, lo: Double, hi: Double, cmp: DataType)
        : ManifestEntry => Boolean = {
      val phys = physOf(n)
      def inexact(d: Double) =
        !d.isInfinite && math.abs(d) > 9007199254740992.0
      if (inexact(lo) || inexact(hi)) all
      else if (partCols.contains(phys)) {
        val decoded =
          scala.collection.concurrent.TrieMap.empty[String, Option[Double]]
        e => e.partitionValues.get(phys).flatMap(pv =>
          decoded.getOrElseUpdate(pv, cast(UTF8String.fromString(pv),
            StringType, cmp).flatMap(units(_, cmp)))) match {
          case Some(v) => v >= lo && v <= hi
          case None => true // null or undecodable partition value
        }
      } else if (typeOf(n).exists(_.isInstanceOf[DecimalType])) all
      else e => e.stats.get(phys) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats: must assume yes
      }
    }
    // a string range is sound only on a DECLARED string column (a
    // numeric partition value compared lexically would prune rows the
    // cast comparison matches) and against ASCII partition values: a
    // pure-ASCII value compares the same under Java UTF-16, Spark's
    // UTF-8 bytes and parquet's byte order against ANY bound, while
    // two non-ASCII sides can flip (U+FFFF sorts above a supplementary
    // character in UTF-16, below it in UTF-8). String stats are
    // recorded only when short and ASCII
    def srange(n: String, lo: String, hi: String): ManifestEntry => Boolean =
      if (!typeOf(n).contains(StringType)) all
      else {
        val phys = physOf(n)
        if (partCols.contains(phys)) e => e.partitionValues.get(phys) match {
          case Some(v) if v.forall(_ < 128) => v >= lo && v <= hi
          case _ => true // non-ASCII or null partition value
        }
        else e => e.strStats.get(phys) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true // no stats: must assume yes
        }
      }
    // (column, lifted literal) of a comparison, either operand order;
    // `flip` = the literal was on the LEFT (so `5 <= c` is `c >= 5`)
    def sides(l: Expression, r: Expression, point: Boolean)
        : Option[(String, Either[(Double, DataType), String], Boolean)] =
      attr(l) match {
        case Some(n) => lift(n, r, point).map(v => (n, v, false))
        case None => attr(r) match {
          case Some(n) => lift(n, l, point).map(v => (n, v, true))
          case None => None
        }
      }
    def eqTest(l: Expression, r: Expression): ManifestEntry => Boolean =
      sides(l, r, point = true) match {
        case Some((n, scala.Left((d, cmp)), _)) => range(n, d, d, cmp)
        case Some((n, scala.Right(s), _)) => srange(n, s, s)
        case None => all
      }
    // `upper` = the comparison bounds the column from ABOVE when the
    // column is the left operand (`c <= v`); flipped literals invert
    def boundTest(l: Expression, r: Expression, upper: Boolean)
        : ManifestEntry => Boolean =
      sides(l, r, point = false) match {
        case Some((n, scala.Left((d, cmp)), flip)) =>
          if (upper != flip) range(n, Double.NegativeInfinity, d, cmp)
          else range(n, d, Double.PositiveInfinity, cmp)
        case Some((n, scala.Right(s), flip)) =>
          // string stats are ASCII-only, so "\uffff" bounds them all
          if (upper != flip) srange(n, "", s)
          else srange(n, s, "\uffff")
        case None => all
      }
    // a file may match IN when it may hold one of the listed values
    def inTest(a: Expression, vs: Seq[Expression]): ManifestEntry => Boolean =
      if (attr(a).isEmpty || vs.isEmpty) all
      else {
        val tests = vs.distinct.map(eqTest(a, _))
        en => tests.exists(_(en))
      }
    def strOf(e: Expression): Option[String] = e match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    def startsTest(a: Expression, p: Expression): ManifestEntry => Boolean =
      (attr(a), strOf(p)) match {
        // ASCII stats: every value with this prefix sorts inside
        // [prefix, prefix + U+FFFF]
        case (Some(n), Some(pre)) => srange(n, pre, pre + "\uffff")
        case _ => all
      }
    // IS NULL / IS NOT NULL against recorded per-file NULL COUNTS
    // (type-agnostic): 0 nulls proves IS NULL empty, all-null proves
    // IS NOT NULL empty; a hive partition VALUE in the path proves the
    // whole file non-null for that column (a null partition encodes as
    // __HIVE_DEFAULT_PARTITION__, which partitionValues omits \u2192 the
    // .get miss stays conservative). Files without recorded counts
    // (pre-r16 manifests) never prune.
    def nullTest(a: Expression, wantNull: Boolean)
        : ManifestEntry => Boolean =
      attr(a) match {
        case Some(n) =>
          val phys = physOf(n)
          (e: ManifestEntry) =>
            if (partCols.contains(phys))
              e.partitionValues.get(phys) match {
                case Some(_) => !wantNull // value present: no null rows
                case None => true
              }
            else e.nullCounts.get(phys) match {
              case Some(0L) => !wantNull
              case Some(nc) if nc >= e.rows => wantNull // all null
              case _ => true
            }
        case None => all
      }
    def likeTest(a: Expression, p: Expression): ManifestEntry => Boolean =
      (attr(a), strOf(p)) match {
        // prefix-only LIKE ('abc%'): same envelope as startsWith;
        // any other wildcard shape is non-skipping
        case (Some(n), Some(pat)) if pat.endsWith("%") &&
            !pat.dropRight(1).exists(c =>
              c == '%' || c == '_' || c == '\\') =>
          srange(n, pat.dropRight(1), pat.dropRight(1) + "\uffff")
        case _ => all
      }
    def build(e: Expression): ManifestEntry => Boolean = e match {
      case And(l, r) =>
        val fl = build(l); val fr = build(r)
        en => fl(en) && fr(en)
      case Or(l, r) =>
        val fl = build(l); val fr = build(r)
        en => fl(en) || fr(en)
      case EqualTo(l, r) => eqTest(l, r)
      case EqualNullSafe(l, r) => eqTest(l, r)
      case LessThan(l, r) => boundTest(l, r, upper = true)
      case LessThanOrEqual(l, r) => boundTest(l, r, upper = true)
      case GreaterThan(l, r) => boundTest(l, r, upper = false)
      case GreaterThanOrEqual(l, r) => boundTest(l, r, upper = false)
      case In(a, vs) => inTest(a, vs)
      // the optimizer's form of a long IN list: internal values
      case InSet(a, hs) if a.resolved =>
        inTest(a, hs.toSeq.map(Literal(_, a.dataType)))
      // parsed SQL BETWEEN is a RuntimeReplaceable node PRE-analysis
      // (it only desugars to >= AND <= later); compose the two bounds
      case b: Between =>
        val fl = boundTest(b.input, b.lower, upper = false)
        val fr = boundTest(b.input, b.upper, upper = true)
        en => fl(en) && fr(en)
      case IsNull(a) => nullTest(a, wantNull = true)
      case IsNotNull(a) => nullTest(a, wantNull = false)
      case StartsWith(a, p) => startsTest(a, p)
      // only the DEFAULT escape char: a custom ESCAPE changes what
      // the prefix means, and likeTest's '\\'-guard only models the
      // default (a mis-read prefix would falsely prune)
      case Like(a, p, esc) if esc == '\\' => likeTest(a, p)
      // the Column DSL (`col("k") === 150L`, `.isin`, `.startsWith`)
      // reaches here UNRESOLVED: operators are UnresolvedFunction
      // nodes until analysis \u2014 normalize the ones we can skip on
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.length == 1 =>
        (u.nameParts.head.toLowerCase(java.util.Locale.ROOT),
          u.arguments) match {
          case ("and", Seq(l, r)) =>
            val fl = build(l); val fr = build(r)
            en => fl(en) && fr(en)
          case ("or", Seq(l, r)) =>
            val fl = build(l); val fr = build(r)
            en => fl(en) || fr(en)
          case ("=" | "==" | "<=>", Seq(l, r)) => eqTest(l, r)
          case ("<" | "<=", Seq(l, r)) => boundTest(l, r, upper = true)
          case (">" | ">=", Seq(l, r)) => boundTest(l, r, upper = false)
          case ("in", a +: vs) if vs.nonEmpty => inTest(a, vs)
          case ("between", Seq(a, lo, hi)) =>
            val fl = boundTest(a, lo, upper = false)
            val fr = boundTest(a, hi, upper = true)
            en => fl(en) && fr(en)
          case ("isnull", Seq(a)) => nullTest(a, wantNull = true)
          case ("isnotnull", Seq(a)) => nullTest(a, wantNull = false)
          case ("startswith", Seq(a, p)) => startsTest(a, p)
          case ("like", Seq(a, p)) => likeTest(a, p)
          case _ => all
        }
      case _ => all
    }
    build(pred)
  }

  /** The aggregates of a source key's envelope, min then max, when that
    * envelope orders like the `target` column it skips files of (the
    * same type, or both numeric); none otherwise — a string envelope
    * bounds nothing on a numeric column ("10" < "9"). */
  private def keyEnvelope(source: DataFrame, keyCol: String,
      target: org.apache.spark.sql.types.DataType)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types._
    val orders = (source.schema(keyCol).dataType, target) match {
      case (_: NumericType, _: NumericType) => true
      case (k @ (StringType | DateType | TimestampType | TimestampNTZType),
          t) => k == t
      case _ => false
    }
    if (orders) Seq(min(col(keyCol)), max(col(keyCol))) else Seq.empty
  }

  /** `keyCol` within the [[keyEnvelope]] whose min and max sit at `at`
    * and `at + 1` of `row`: the predicate a keyed DML hands to
    * [[predicateMayMatch]]. With no envelope, or an all-null key,
    * every file is a candidate. NULL source keys are safe to ignore
    * here: an equi-join key never matches NULL, so null-key source
    * rows are always inserts. */
  private def envelopePredicate(keyCol: String, row: org.apache.spark.sql.Row,
      at: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    if (row.length < at + 2 || row.isNullAt(at)) lit(true)
    else col(keyCol) >= lit(row.get(at)) && col(keyCol) <= lit(row.get(at + 1))
  }

  /** MERGE via DELETION VECTORS (Delta 3.x DV-backed DML): matched
    * target rows are RETIRED by masking their (file, row_index) into
    * a fresh DV sidecar, and their updated images — plus the
    * not-matched inserts — land as appended files, all in ONE atomic
    * commit. No data file is rewritten, ever: write amplification is
    * O(changed rows), not O(size of every file holding a match) — at
    * 100 TB a 0.1%-churn merge writes ~0.1% of a day's bytes where
    * the rewrite path ([[graft.incremental.Incremental
    * .mergeIntoVersionedTable]]) rewrites whole files. Semantics
    * match `whenMatchedUpdate(set) + whenNotMatchedInsertAll`:
    * matched rows take the source's values for `updateColumns`
    * (default: all non-key source columns, explicit NULLs included),
    * unmatched source rows insert whole (target-only columns NULL),
    * untouched target rows stay exactly where they are.
    *
    * Scale shape: candidate files come from the source's first-key
    * envelope ([[keyEnvelope]]) through [[predicateMayMatch]], so a
    * range-clustered table is touched only where the batch's keys
    * live. ONE scan of the candidates joins the source and keeps the
    * matched rows' (file, row_index) with their new images,
    * checkpointed at O(matched rows): the DV sidecar, the update
    * images and the insert anti-join all derive from it. The source's
    * emptiness, duplicate-key guard and key envelope come from one
    * aggregate. On row-tracked tables updated rows
    * CARRY their row id through materialization, so
    * [[changes]] with `updateImages` reports them as `update_preimage` /
    * `update_postimage` pairs — not delete+insert — and a no-op
    * update (source equals target) produces no feed row at all.
    *
    * Source keys must be UNIQUE on `mergeKeys` (checked — a duplicate
    * would both double-mask a matched row and write two conflicting
    * images; Delta raises the same error). Schema evolution is not
    * supported on this path (source columns must exist in the
    * snapshot schema) — evolving merges take the rewrite path.
    * Concurrency is WriteSerializable, as [[deleteVectorized]]: a
    * candidate file rewritten or re-masked mid-flight fails loudly;
    * blind appends racing in commit cleanly and are NOT re-scanned
    * (their rows, even matching, survive as-is — Delta's documented
    * append-vs-DML rule). Returns the committed version. */
  def mergeVectorized(source: DataFrame, mergeKeys: Seq[String],
      updateColumns: Option[Seq[String]] = None): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, count,
      count_distinct, lit, struct}
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val schema = logicalSchema(m)
    val tgtCols = schema.fieldNames.toSeq
    mergeKeys.foreach(k => require(tgtCols.contains(k) &&
      source.columns.contains(k),
      s"merge key $k must exist in both $root and the source"))
    source.columns.foreach(c => require(tgtCols.contains(c),
      s"DV MERGE cannot evolve schema at $root: source column '$c' is " +
        "not in the snapshot — use the rewrite path with evolveSchema"))
    val updateCols = updateColumns.getOrElse(
      source.columns.toSeq.filterNot(mergeKeys.contains))
    updateCols.foreach(c => require(
      tgtCols.contains(c) && !mergeKeys.contains(c),
      s"update column '$c' must be an existing non-key column of $root"))
    // lazy: the checks' aggregate below is its single first consumer
    // and materializes it; the joins after it read the checkpoint
    val src = source.localCheckpoint(eager = false)
    // emptiness, the duplicate-key guard and the key envelope: ONE
    // aggregate over the source
    val keyCol = mergeKeys.head
    val facts = src.agg(count(lit(1)),
      count_distinct(struct(mergeKeys.map(col): _*)) +:
        keyEnvelope(src, keyCol, schema(keyCol).dataType): _*).head()
    if (facts.getLong(0) == 0L) return curV
    require(facts.getLong(0) == facts.getLong(1),
      s"MERGE source has duplicate rows on (${mergeKeys.mkString(",")}) " +
        "— each target row may match at most one source row")
    val candidates = m.entries.filter(
      predicateMayMatch(m, envelopePredicate(keyCol, facts, 2)))
    val tracked = m.rowIdHw.isDefined
    val metaFile = graftbridge.ManifestScan.FilePathCol
    val metaPos = graftbridge.ManifestScan.RowIndexCol
    // ONE pass over the candidates: each matched target row with its
    // (file, pos) and its new image — matched rows take the source's
    // values for the update columns, row-tracked ones carry their id.
    // O(matched) rows, checkpointed once: the DV sidecar, the update
    // images and the insert anti-join all read it
    val imageCols = mergeKeys.map(col) ++
      tgtCols.filterNot(mergeKeys.contains).map { c =>
        if (updateCols.contains(c) && source.columns.contains(c))
          col(s"s.$c").as(c)
        else col(s"t.$c").as(c)
      } ++
      (if (tracked) Seq(col(s"t.$RowIdPhysCol").as(RowIdPhysCol))
       else Seq.empty)
    val matched =
      if (candidates.isEmpty) None
      else {
        val tgt =
          if (tracked) logicalize(m,
            readFilesPhysicalRid(m, candidates, keepMeta = true))
          else readFiles(m, candidates, withRowMeta = true)
        Some(tgt.alias("t").join(src.alias("s"), mergeKeys, "inner")
          .select(imageCols :+ col(s"t.$metaFile").as(metaFile) :+
            col(s"t.$metaPos").as(metaPos): _*)
          .localCheckpoint())
      }
    val newDvDir = newCommitDir(curV + 1)
    val (folded, counts) = matched match {
      case None => (Set.empty[String], Map.empty[String, Long])
      case Some(rows) =>
        // delta sidecar: ONLY this merge's newly retired rows — the
        // existing masks stay in their own chain links (O(changed
        // rows) written per commit; cap-length chains fold here)
        writeDvSidecar(rows.select(fileRelCol(col(metaFile)).as("file_rel"),
          col(metaPos).as("pos")), candidates, newDvDir)
    }
    val dvRel = relativize(newDvDir)
    val updates = matched match {
      case Some(rows) => rows.drop(metaFile, metaPos)
      case None =>
        val e = readVersion(curV).limit(0)
        (if (tracked) e.withColumn(RowIdPhysCol, lit(null).cast("long"))
         else e).alias("t").join(src.alias("s"), mergeKeys, "inner")
          .select(imageCols: _*)
    }
    // the inserts: source rows no target row matched. An anti-join
    // needs no distinct right side; the planner cannot size the
    // checkpointed matches (it multiplies the join's inputs), but the
    // sidecar write counted them, so broadcast them when their keys
    // fit the session's broadcast threshold
    val inserts = matched.fold(src) { rows =>
      val keys = rows.select(mergeKeys.map(col): _*)
      val keyBytes = mergeKeys.map(k => schema(k).dataType.defaultSize).sum
      val limit = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      src.join(
        if (counts.values.sum * keyBytes <= limit) broadcast(keys) else keys,
        mergeKeys, "left_anti")
    }
      .select(mergeKeys.map(col) ++
        tgtCols.filterNot(mergeKeys.contains).map { c =>
          val f = schema(c)
          if (source.columns.contains(c)) col(c).cast(f.dataType).as(c)
          else lit(null).cast(f.dataType).as(c)
        } ++
        (if (tracked) Seq(lit(null).cast("long").as(RowIdPhysCol))
         else Seq.empty): _*)
    val newImages = updates.unionByName(inserts)
    reconcileAppendSchema(newImages.drop(RowIdPhysCol), schema,
      allowEvolution = false)
    enforceConstraints(newImages, m.constraints)
    val dataDir = newCommitDir(curV + 1)
    writeCommitData(delogicalize(m.mapping, newImages), m.partitionBy,
      dataDir)
    val added = listCommitFiles(dataDir)
    val v = commitMaskAppend(m, candidates, counts, folded, dvRel, added,
      s"MERGE DV ON (${mergeKeys.mkString(",")})")
    refreshBloomIndexes(v)
    v
  }

  /** Row-level UPDATE of every row satisfying an ARBITRARY predicate
    * via DELETION VECTORS — the WHERE clause a SQL `UPDATE` carries,
    * with O(changed rows) write amplification: the matched rows are
    * masked out of their files (never rewritten) and their updated
    * images appended, one atomic commit, exactly the
    * [[mergeVectorized]] mechanics with the match coming from a
    * predicate instead of a source join. Candidate files come from
    * [[predicateMayMatch]]'s data skipping (comparisons / IN / BETWEEN
    * / prefix conjuncts against recorded stats); rows where the
    * predicate is NULL are NOT updated (SQL three-valued WHERE).
    * Row-tracked tables carry each updated row's id, so the change
    * feed reports updates as update pre/post image pairs. Partition
    * columns can't be set (Delta's rule — use a MERGE); concurrency
    * as [[deleteVectorized]] (WriteSerializable). */
  def updateVectorizedWhere(pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateVectorized needs a column to set")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val schema = logicalSchema(m)
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"update sets unknown column '$k' at $root"))
    require(!set.keys.exists(m.partitionBy.contains),
      s"cannot update partition columns of $root in place " +
        "(rows would change partitions) — use a MERGE")
    val candidates = m.entries.filter(predicateMayMatch(m, pred))
    if (candidates.isEmpty) return curV // provably nothing to update
    val tracked = m.rowIdHw.isDefined
    val metaFile = graftbridge.ManifestScan.FilePathCol
    val metaPos = graftbridge.ManifestScan.RowIndexCol
    // PASS 1 — mask the matched rows (predicate-column-pruned scan)
    val matchedPairs = readFiles(m, candidates, withRowMeta = true)
      .filter(pred)
      .select(fileRelCol(col(metaFile)).as("file_rel"),
        col(metaPos).as("pos"))
    // delta sidecar only (see mergeVectorized) — chain-appended in
    // commitMaskAppend, cap-length chains folded
    val newDvDir = newCommitDir(curV + 1)
    val (folded, counts) = writeDvSidecar(matchedPairs, candidates,
      newDvDir)
    val dvRel = relativize(newDvDir)
    // PASS 2 — the updated images, ids carried on tracked tables
    val scan =
      if (tracked) logicalize(m, readFilesPhysicalRid(m, candidates))
      else readFiles(m, candidates)
    val newImages = scan.filter(pred)
      .select(schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(expr) => expr.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      } ++ (if (tracked) Seq(col(RowIdPhysCol)) else Seq.empty): _*)
    enforceConstraints(newImages, m.constraints)
    val dataDir = newCommitDir(curV + 1)
    writeCommitData(delogicalize(m.mapping, newImages), m.partitionBy,
      dataDir)
    val added = listCommitFiles(dataDir)
    val v = commitMaskAppend(m, candidates, counts, folded, dvRel, added,
      s"UPDATE DV WHERE $pred")
    refreshBloomIndexes(v)
    v
  }

  /** DV-BACKED KEYED FOLD (the streaming CDC-apply write primitive,
    * [[graft.streaming.Streaming.versionedApplyChangesBatchDv]]):
    * every stored row whose `mergeKeys` appear in `batchKeys` retires
    * via a DV mask, and whatever `foldWith` computes FROM those
    * affected rows appends — one atomic commit. `foldWith` receives
    * the affected state (logical columns, existing masks applied) and
    * returns the rows that should now exist for the touched keys
    * (typically `window-dedup(affected ∪ batch) minus deletes`); rows
    * for keys NOT in `batchKeys` are untouched by construction, so
    * the commit writes O(batch ∪ affected) — not O(touched files),
    * which even the stats-pruned replaceWhere fold pays.
    *
    * Soundness needs every stored row of a touched key in `affected`:
    * candidates come from `batchKeys`' envelope against manifest
    * stats (numeric AND string keys) and the per-row membership is an
    * exact semi-join. The caller must pre-exclude NULL keys (a NULL
    * never semi-joins, so a stored null-key row would silently evade
    * its mask — the CDC sink falls back to the full fold on null-key
    * batches for exactly this reason). Concurrency as the other DV
    * DML ([[commitMaskAppend]]'s WriteSerializable protocol). */
  def foldVectorized(batchKeys: DataFrame, mergeKeys: Seq[String],
      operation: String)(foldWith: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val keys = batchKeys.select(mergeKeys.map(col): _*).distinct()
      .localCheckpoint() // envelope agg AND the semi-join read it
    val keyCol = mergeKeys.head
    val candidates = keyEnvelope(keys, keyCol,
        logicalSchema(m)(keyCol).dataType) match {
      case Seq() => m.entries
      case env => m.entries.filter(predicateMayMatch(m,
        envelopePredicate(keyCol, keys.agg(env.head, env.tail: _*).head(), 0)))
    }
    val metaFile = graftbridge.ManifestScan.FilePathCol
    val metaPos = graftbridge.ManifestScan.RowIndexCol
    val affected =
      if (candidates.isEmpty) null
      else readFiles(m, candidates, withRowMeta = true)
        .join(keys, mergeKeys, "left_semi")
        .localCheckpoint() // O(affected rows), read twice below
    val newDvDir = newCommitDir(curV + 1)
    val (folded, counts) =
      if (candidates.isEmpty) (Set.empty[String], Map.empty[String, Long])
      else {
        // delta sidecar only (see mergeVectorized) — chain-appended in
        // commitMaskAppend, cap-length chains folded
        val pairs = affected.select(
          fileRelCol(col(metaFile)).as("file_rel"), col(metaPos).as("pos"))
        writeDvSidecar(pairs, candidates, newDvDir)
      }
    val dvRel = relativize(newDvDir)
    val affectedState =
      if (candidates.isEmpty) readVersion(curV).limit(0)
      else affected.drop(metaFile, metaPos)
    val newImages = foldWith(affectedState)
    reconcileAppendSchema(newImages, logicalSchema(m),
      allowEvolution = false)
    enforceConstraints(newImages, m.constraints)
    val dataDir = newCommitDir(curV + 1)
    writeCommitData(delogicalize(m.mapping, newImages), m.partitionBy,
      dataDir)
    val added = listCommitFiles(dataDir)
    val v = commitMaskAppend(m, candidates, counts, folded, dvRel, added,
      operation)
    refreshBloomIndexes(v)
    v
  }

  /** Shared COMMIT half of the DV mask+append DML family
    * ([[mergeVectorized]] / [[updateVectorizedWhere]] /
    * [[mergeClausesVectorized]]): atomically APPEND the new delta
    * sidecar to each touched candidate's DV chain (per-file
    * NEWLY-masked `counts`, keyed by scan-rendered path; 0 =
    * untouched, chain total >= rows = dropped), keep everything else
    * verbatim, append `added` with fresh row-id ranges. Fails loudly when a candidate was rewritten or re-masked
    * since `basis` (lost update); files committed SINCE the basis
    * survive untouched and unexamined — WriteSerializable, the
    * documented append-vs-DML rule. */
  private def commitMaskAppend(basis: VersionManifest,
      candidates: Seq[ManifestEntry], counts: Map[String, Long],
      folded: Set[String], dvRel: String, added: Seq[ManifestEntry],
      opDesc: String): Long = {
    val qualifiedRoot = fs.makeQualified(rootPath)
    def renderedRel(e: ManifestEntry): String = renderKey(
      qualifiedRoot.toString, new Path(qualifiedRoot, e.relPath).toString)
    val candByPath = candidates.map(e => e.relPath -> e).toMap
    commitWithRebase(rebase = true) { () =>
      val nowV = currentVersion.get
      val now = readManifest(nowV)
      require(now.partitionBy == basis.partitionBy,
        s"concurrent write changed partitioning of $root while a DV " +
          s"commit ($opDesc) was in flight")
      require(now.mapping == basis.mapping,
        s"concurrent column rename/drop at $root while a DV commit " +
          s"($opDesc) was in flight; re-run against the new schema")
      val nowByPath = now.entries.map(e => e.relPath -> e).toMap
      candidates.foreach { c =>
        val n = nowByPath.getOrElse(c.relPath, sys.error(
          s"concurrent write conflict at $root: ${c.relPath} was " +
            s"rewritten while a DV commit ($opDesc) was in flight; " +
            "re-run against the new snapshot"))
        if (n.dvDir != c.dvDir || n.dvRows != c.dvRows) sys.error(
          s"concurrent write conflict at $root: ${c.relPath} was " +
            s"re-masked while a DV commit ($opDesc) was in flight; " +
            "re-run against the new snapshot")
      }
      val kept = now.entries.flatMap { e =>
        if (!candByPath.contains(e.relPath)) Some(e)
        else maskedEntry(e, counts.getOrElse(renderedRel(e), 0L),
          folded, dvRel)
      }
      val next = nowV + 1
      val (added2, hw2) = assignRowIds(now.rowIdHw, added)
      val entries = (kept ++ added2) match {
        // every stored row retired and nothing new written: keep ONE
        // fully-masked entry so the manifest stays non-empty
        case Seq() => Seq(fullyMaskedKeeper(candidates.head, folded, dvRel))
        case es => es
      }
      writeManifest(next, now.copy(entries = entries, rowIdHw = hw2))
      appendHistory(next, opDesc, entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** CLAUSE MERGE via DELETION VECTORS — the full Delta-MERGE clause
    * surface ([[graft.incremental.Upsert.upsertWithClauses]]'s
    * semantics, NOT-MATCHED-BY-SOURCE included) with O(changed rows)
    * WRITE amplification. The NMBS clauses force a FULL-TABLE READ by
    * semantics (no pruned read can prove an unread row unmatched —
    * Delta pays the same), but nothing forces a full-table WRITE:
    * rows a clause deletes or updates retire via DV masks, the
    * updated/NMBS-set images and the inserts append, and every
    * UNTOUCHED row stays exactly where it is — on a weekly snapshot
    * sync of a 100 TB table where 0.1% changed, this commit writes
    * 0.1%, where [[graft.incremental.Upsert
    * .mergeClausesIntoVersionedTable]] rewrites everything. ONE
    * table-scan join: the changed-row set (masks + images + flags)
    * checkpoints at O(changed rows) and both the sidecar and the
    * image files derive from it. Row-tracked tables carry updated
    * rows' ids (CDF update pre/post pairs); schema evolution is not
    * supported on this path (use the rewrite form). Source keys must
    * be unique on `mergeKeys`. Concurrency as [[mergeVectorized]].
    * Clause semantics — conditions through the `t.`/`s.` aliases,
    * NULL conditions fall through, delete-before-update on both
    * sides — match upsertWithClauses exactly. */
  def mergeClausesVectorized(source: DataFrame, mergeKeys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      updateWhen: Option[org.apache.spark.sql.Column] = None,
      insertWhen: Option[org.apache.spark.sql.Column] = None,
      updateColumns: Option[Seq[String]] = None,
      deleteWhenNotMatchedBySource: Option[org.apache.spark.sql.Column] = None,
      updateWhenNotMatchedBySource: Option[org.apache.spark.sql.Column] = None,
      notMatchedBySourceSet: Map[String, org.apache.spark.sql.Column] =
        Map.empty): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    require(updateWhenNotMatchedBySource.isDefined ==
      notMatchedBySourceSet.nonEmpty,
      "updateWhenNotMatchedBySource and notMatchedBySourceSet come " +
        "together: the clause needs assignments, the assignments a clause")
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val schema = logicalSchema(m)
    val tgtCols = schema.fieldNames.toSeq
    mergeKeys.foreach(k => require(tgtCols.contains(k) &&
      source.columns.contains(k),
      s"merge key $k must exist in both $root and the source"))
    source.columns.foreach(c => require(tgtCols.contains(c),
      s"DV clause MERGE cannot evolve schema at $root: source column " +
        s"'$c' is not in the snapshot — use the rewrite path"))
    notMatchedBySourceSet.keys.foreach(k => require(
      tgtCols.contains(k) && !mergeKeys.contains(k),
      s"notMatchedBySourceSet assigns '$k', which must be an existing " +
        "non-key target column"))
    val updateCols = updateColumns.getOrElse(
      source.columns.toSeq.filterNot(mergeKeys.contains))
    val src = source.localCheckpoint()
    require(src.groupBy(mergeKeys.map(col): _*).count()
      .filter(col("count") > 1).isEmpty,
      s"MERGE source has duplicate rows on (${mergeKeys.mkString(",")}) " +
        "— each target row may match at most one source row")
    val tracked = m.rowIdHw.isDefined
    // NMBS examines every target row — EVERY file is a candidate, by
    // semantics, exactly like Delta giving up pruning under the clause
    val candidates = m.entries
    val metaFile = graftbridge.ManifestScan.FilePathCol
    val metaPos = graftbridge.ManifestScan.RowIndexCol
    val scan =
      if (tracked)
        logicalize(m, readFilesPhysicalRid(m, candidates, keepMeta = true))
      else readFiles(m, candidates, withRowMeta = true)
    val tgt0 = scan.withColumn("_t_present", lit(true))
    val src0 = src.withColumn("_s_present", lit(true))
    val joined = tgt0.alias("t").join(src0.alias("s"), mergeKeys,
      "full_outer")
    val srcPresent = col("s._s_present").isNotNull
    val tgtPresent = col("t._t_present").isNotNull
    val matchedF = srcPresent && tgtPresent
    val tgtOnly = tgtPresent && !srcPresent
    // Delta clause semantics: NULL conditions fall through (<=> folds)
    val del = deleteWhen.map(c => (matchedF && c) <=> lit(true))
      .getOrElse(lit(false))
    val upd = matchedF && !del &&
      updateWhen.map(_ <=> lit(true)).getOrElse(lit(true))
    val ins = !tgtPresent && srcPresent &&
      insertWhen.map(_ <=> lit(true)).getOrElse(lit(true))
    val nmbsDel = deleteWhenNotMatchedBySource
      .map(c => (tgtOnly && c) <=> lit(true)).getOrElse(lit(false))
    val nmbsUpd = updateWhenNotMatchedBySource
      .map(c => (tgtOnly && !nmbsDel && c) <=> lit(true))
      .getOrElse(lit(false))
    val imageCols: Seq[org.apache.spark.sql.Column] =
      mergeKeys.map(k => col(k).as(k)) ++
        tgtCols.filterNot(mergeKeys.contains).map { c =>
          val base =
            if (updateCols.contains(c) && source.columns.contains(c))
              when(upd || ins, col(s"s.$c")).otherwise(col(s"t.$c"))
            else if (source.columns.contains(c))
              when(tgtPresent, col(s"t.$c")).otherwise(col(s"s.$c"))
            else col(s"t.$c")
          notMatchedBySourceSet.get(c)
            .map(e => when(nmbsUpd, e).otherwise(base))
            .getOrElse(base).cast(schema(c).dataType).as(c)
        }
    val maskFlag = tgtPresent && (del || upd || nmbsDel || nmbsUpd)
    val emitFlag = (upd || nmbsUpd || ins) <=> lit(true)
    // ONE table-scan join; the surviving frame is O(changed rows)
    val changed = joined.filter(maskFlag || emitFlag)
      .select(imageCols ++ Seq(
        col(s"t.$metaFile").as("__mc_file"),
        col(s"t.$metaPos").as("__mc_pos"),
        maskFlag.as("__mc_mask"), emitFlag.as("__mc_emit")) ++
        (if (tracked)
          Seq(when(tgtPresent, col(s"t.$RowIdPhysCol")).as(RowIdPhysCol))
         else Seq.empty): _*)
      .localCheckpoint()
    val matchedPairs = changed.filter(col("__mc_mask"))
      .select(fileRelCol(col("__mc_file")).as("file_rel"),
        col("__mc_pos").as("pos"))
    // delta sidecar only (see mergeVectorized) — chain-appended in
    // commitMaskAppend, cap-length chains folded
    val newDvDir = newCommitDir(curV + 1)
    val (folded, counts) = writeDvSidecar(matchedPairs, candidates,
      newDvDir)
    val dvRel = relativize(newDvDir)
    val newImages = changed.filter(col("__mc_emit"))
      .select(tgtCols.map(col) ++
        (if (tracked) Seq(col(RowIdPhysCol)) else Seq.empty): _*)
    reconcileAppendSchema(newImages.drop(RowIdPhysCol), schema,
      allowEvolution = false)
    enforceConstraints(newImages, m.constraints)
    val dataDir = newCommitDir(curV + 1)
    writeCommitData(delogicalize(m.mapping, newImages), m.partitionBy,
      dataDir)
    val added = listCommitFiles(dataDir)
    val v = commitMaskAppend(m, candidates, counts, folded, dvRel, added,
      s"MERGE DV CLAUSES ON (${mergeKeys.mkString(",")})")
    refreshBloomIndexes(v)
    v
  }

  /** M1 on a versioned table: OPTIMIZE as a NEW version (Delta
    * semantics). Rewrites the current snapshot into ~`targetFileMB`
    * files as a fresh commit; prior versions keep referencing the old
    * files untouched until [[vacuum]] reclaims them. Returns the new
    * version. */
  def compact(targetFileMB: Int = 128): Long = {
    val m = readManifest(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))
    val n = math.max(1L, m.entries.map(_.bytes).sum /
      (targetFileMB.toLong * 1024 * 1024)).toInt
    val v = if (m.rowIdHw.isDefined)
      // tracked: rewrite through replaceWhere (schema stays frozen)
      // with ids materialized, so OPTIMIZE preserves row identity and
      // the change feed sees a no-op
      replaceWhere(readWithRowIds()
          .withColumnRenamed(RowIdCol, RowIdPhysCol).repartition(n),
        _ => false, "OPTIMIZE")
    else write(read().repartition(n), SaveMode.Overwrite, "OPTIMIZE")
    refreshBloomIndexes(v)
    v
  }

  /** OPTIMIZE WHERE (Delta `OPTIMIZE tbl WHERE part IN (...)`):
    * compact ONLY the selected partitions' files — every other
    * partition's manifest entries survive byte-identically (never
    * read, never rewritten). This is how compaction is actually run
    * at 100 TB: yesterday's hot partition gets its small streamed
    * files folded while the other 10 000 partitions cost nothing.
    * DV masks on the selected partitions are purged by the rewrite
    * (survivors only), like [[compact]]; tracked tables carry row
    * ids through. The operation string stays "OPTIMIZE"-prefixed so
    * the update-image feed's layout-only fast path applies.
    * Returns the current version unchanged when nothing matches. */
  def compactWhere(partCol: String, values: Set[String],
      targetFileMB: Int = 128): Long = {
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    require(m.partitionBy.contains(partCol),
      s"$partCol is not a partition column of $root " +
        s"(partitioned by: ${m.partitionBy.mkString(",")})")
    def selected(e: ManifestEntry): Boolean =
      e.partitionValues.get(partCol).exists(values.contains)
    val target = m.entries.filter(selected)
    if (target.isEmpty) return curV
    val n = math.max(1L, target.map(_.bytes).sum /
      (targetFileMB.toLong * 1024 * 1024)).toInt
    val src =
      if (m.rowIdHw.isDefined)
        logicalize(m, readFilesPhysicalRid(m, target)).repartition(n)
      else readFiles(m, target).repartition(n)
    val v = replaceWhere(src, e => !selected(e),
      s"OPTIMIZE WHERE $partCol IN (${values.toSeq.sorted.mkString(",")})",
      basisVersion = Some(curV))
    refreshBloomIndexes(v)
    v
  }

  /** REORG … PURGE (Delta `REORG TABLE … APPLY (PURGE)`): physically
    * drop soft-deleted rows by rewriting ONLY the DV-masked files —
    * every plain file keeps its manifest entry (and its bloom/stats
    * usefulness) untouched. [[compact]] rewrites the whole table;
    * purge touches exactly the files that carry a mask, so on a
    * 100 TB table where a GDPR pass masked 0.1% of files, purge
    * rewrites that 0.1% and nothing else. After the commit the
    * current manifest references no DV sidecar, so [[vacuum]] can
    * reclaim the sidecars once prior versions age out; prior
    * versions still read the masked view (snapshot isolation).
    * Commits with `rebase = false`: a concurrent rewrite/re-mask of
    * a candidate file must surface, not be replayed over.
    * Returns the current version unchanged when no file is masked. */
  def reorgPurge(): Long = {
    val curV0 = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m0 = readManifest(curV0)
    val masked = m0.entries.filter(_.dvDir.isDefined)
    if (masked.isEmpty) return curV0
    val maskedKey = masked.map(e => (e.relPath, e.dvDir, e.dvRows)).toSet
    val maskedPaths = masked.map(_.relPath).toSet
    // one distributed pass: masked files with their DVs applied, in
    // PHYSICAL column names (writeCommitData's contract); tracked
    // tables carry each survivor's row id into the rewritten files
    val survivors =
      if (m0.rowIdHw.isDefined) readFilesPhysicalRid(m0, masked)
      else readFilesPhysical(m0, masked, isStreaming = false,
        withRowMeta = false)
    val dir = newCommitDir(curV0 + 1)
    writeCommitData(survivors, m0.partitionBy, dir)
    val added = listCommitFiles(dir)
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.get
      val cur = readManifest(curV)
      val nowMasked = cur.entries
        .filter(e => maskedPaths.contains(e.relPath))
        .map(e => (e.relPath, e.dvDir, e.dvRows)).toSet
      if (nowMasked != maskedKey) sys.error(
        s"concurrent write conflict at $root: a file this purge " +
          "rewrites was rewritten or re-masked mid-flight; re-run " +
          "against the new snapshot")
      val next = curV + 1
      val (added2, hw2) = assignRowIds(cur.rowIdHw, added)
      val entries =
        cur.entries.filterNot(e => maskedPaths.contains(e.relPath)) ++ added2
      writeManifest(next, VersionManifest(Some(snapshotSchema(cur)),
        entries, cur.partitionBy, cur.mapping, cur.generated,
        cur.constraints, hw2, cur.identity, cur.defaults))
      appendHistory(next, "REORG PURGE", entries.map(_.liveRows).sum)
      pointTo(next)
      refreshBloomIndexes(next)
      next
    }
  }

  /** Commit version an entry's path was written by (None for external
    * — shallow-clone — references). */
  private[graft] def entryCommitVersion(e: ManifestEntry): Option[Long] = {
    val segs = e.relPath.split('/')
    if (segs.length >= 2 && segs(0) == "_data") commitDirVersion(segs(1))
    else None
  }

  /** Live rows of exactly `entries` under the CURRENT manifest, the
    * row-id column riding along on tracked tables — the read half of
    * a partial rewrite (feed the result to [[replaceWhere]] with a
    * keep predicate excluding these entries, as compactWhere does). */
  private[graft] def readEntriesForRewrite(
      entries: Seq[ManifestEntry]): DataFrame = {
    val m = readManifest(currentVersion.getOrElse(
      sys.error(s"table $root does not exist")))
    if (m.rowIdHw.isDefined) logicalize(m, readFilesPhysicalRid(m, entries))
    else readFiles(m, entries)
  }

  // ------------------------------------------------------- row tracking

  /** One contiguous id range per new file, carved off the manifest's
    * high-water mark (None = tracking not enabled — entries pass
    * through untouched). Ranges cover PHYSICAL rows, so a file's ids
    * are `base + row_index` with zero per-row bookkeeping; masked rows
    * keep ids that simply never surface. The mark only ever grows. */
  private def assignRowIds(hw: Option[Long], added: Seq[ManifestEntry])
      : (Seq[ManifestEntry], Option[Long]) = hw match {
    case None => (added, None)
    case Some(h0) =>
      var h = h0
      val out = added.map { e =>
        val b = h; h += e.rows; e.copy(baseRowId = Some(b))
      }
      (out, Some(h))
  }

  def rowTrackingEnabled: Boolean =
    currentVersion.exists(readManifest(_).rowIdHw.isDefined)

  /** ROW TRACKING (Delta's row tracking feature): give every row a
    * STABLE `_row_id` that survives file rewrites — the identity that
    * lets a change feed say "this row was UPDATED" instead of the
    * delete+insert pair value-diffing degrades to. Enabling is a
    * metadata-only commit: each existing file takes a contiguous id
    * range (`baseRowId`, in manifest order), so a row's id is
    * `base + row_index` — O(files) manifest bytes, not O(rows)
    * anywhere. From then on every commit assigns fresh ranges off the
    * persisted high-water mark (`#rowIdHw=` header), and REWRITES
    * (UPDATE / DELETE-rewrite / OPTIMIZE / REORG PURGE) carry each
    * surviving row's id through as a materialized `__graft_rid`
    * column INSIDE the rewritten files — invisible to normal reads
    * (the snapshot schema never contains it), read back by
    * [[readWithRowIds]] via `coalesce(materialized, base + index)`,
    * which also makes MERGE-style mixed frames work for free: carried
    * rows keep their ids, genuinely new rows read null and fall back
    * to the fresh range. Idempotent. */
  def enableRowTracking(): Long = commitWithRebase(rebase = false) { () =>
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val cur = readManifest(curV)
    if (cur.rowIdHw.isDefined) curV
    else {
      require(!snapshotSchema(cur).fieldNames.contains(RowIdPhysCol),
        s"$root has a data column named $RowIdPhysCol — the name is " +
          "reserved for row tracking")
      // NEVER-REUSE across the whole retained history, not just the
      // current manifest: a RESTORE to a pre-tracking version leaves
      // rowIdHw=None while ids were already issued in later versions —
      // seeding from 0 would hand those ids to different rows and let
      // the update-image feed mispair them across the restore boundary.
      // One manifest-header read per retained version, only on this
      // one-time enable (vacuumed versions are gone along with every
      // row that ever held their ids).
      var h = committedVersions
        .flatMap(v => readManifestOnce(v).flatMap(_.rowIdHw))
        .foldLeft(0L)(_ max _)
      val entries = cur.entries.map { e =>
        val b = h; h += e.rows; e.copy(baseRowId = Some(b))
      }
      val next = curV + 1
      writeManifest(next, cur.copy(entries = entries, rowIdHw = Some(h)))
      appendHistory(next, "ENABLE ROW TRACKING",
        entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Current snapshot with its stable row ids as a `_row_id` column. */
  def readWithRowIds(): DataFrame = readVersionWithRowIds(
    currentVersion.getOrElse(sys.error(s"table $root does not exist")))

  /** IDENTITY COLUMN (Delta `GENERATED ALWAYS AS IDENTITY`): declare a
    * surrogate-key column whose value is `startWith + step · row_id`,
    * DERIVED from the row-tracking id — pure manifest metadata, zero
    * bytes written now or on any future commit. Everything the
    * surrogate key must promise falls out of the row-id machinery it
    * rides: values are unique and never reused (ids come off the
    * monotone high-water mark), a fresh append takes the next
    * contiguous block, and rewrites (UPDATE / OPTIMIZE / REORG PURGE)
    * carry each surviving row's id — so its identity value — through
    * materialization, which is the Delta guarantee. Like Delta, the
    * column is ALWAYS table-assigned: [[write]] refuses frames that
    * carry it. Read it back with [[readWithIdentity]] (the plain
    * [[read]] schema is unchanged — the column costs nothing until
    * asked for). Enables row tracking if not already on. */
  def addIdentityColumn(name: String, startWith: Long = 1L,
      step: Long = 1L): Long = {
    require(step != 0L, "identity step must be non-zero")
    enableRowTracking() // idempotent
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.get
      val cur = readManifest(curV)
      cur.identity.foreach { case (n, _, _) => sys.error(
        s"table $root already has an identity column ($n)") }
      require(!logicalSchema(cur).fieldNames.contains(name),
        s"column $name already exists at $root")
      val next = curV + 1
      writeManifest(next, cur.copy(identity = Some((name, startWith, step))))
      appendHistory(next, s"ADD IDENTITY $name START $startWith STEP $step",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Current snapshot plus its identity column (appended last). */
  def readWithIdentity(): DataFrame = {
    val v = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val (name, start, step) = readManifest(v).identity.getOrElse(
      sys.error(s"no identity column at $root (call addIdentityColumn)"))
    import org.apache.spark.sql.functions.{col, lit}
    readVersionWithRowIds(v)
      .withColumn(name, lit(start) + lit(step) * col(RowIdCol))
      .drop(RowIdCol)
  }

  def readVersionWithRowIds(v: Long): DataFrame = {
    require(manifestCommitted(v), s"version $v does not exist at $root")
    val m = readManifest(v)
    require(m.rowIdHw.isDefined,
      s"row tracking is not enabled at $root (call enableRowTracking)")
    require(m.entries.nonEmpty || m.schema.isDefined,
      s"version $v of $root has an empty manifest and no recorded schema")
    logicalize(m, readFilesPhysicalRid(m, m.entries))
      .withColumnRenamed(RowIdPhysCol, RowIdCol)
  }

  /** [[readFilesPhysical]] plus the row id (still under its PHYSICAL
    * name): scan with the snapshot schema EXTENDED by the nullable
    * materialized-id column (files without it — plain appends — read
    * null), resolve `coalesce(materialized, base + row_index)` with
    * the per-file bases broadcast from the manifest, and apply DV
    * masks exactly as the plain read does. */
  private def readFilesPhysicalRid(m: VersionManifest,
      entries: Seq[ManifestEntry], keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    def finish(df: DataFrame, es: Seq[ManifestEntry]): DataFrame = {
      import spark.implicits._
      val bases = es.map(e => (e.relPath, e.baseRowId.getOrElse(
        sys.error(s"row tracking: ${e.relPath} of $root has no base row " +
          "id — was the file committed before enableRowTracking?"))))
        .toDF("__rid_file", "__rid_base")
      val fileRel = fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
      val withRid = df
        .join(broadcast(bases), fileRel === col("__rid_file"), "left")
        .withColumn(RowIdPhysCol, coalesce(col(RowIdPhysCol),
          col("__rid_base") + col(graftbridge.ManifestScan.RowIndexCol)))
        .drop("__rid_file", "__rid_base")
      if (keepMeta) withRid
      else withRid.drop(graftbridge.ManifestScan.FilePathCol,
        graftbridge.ManifestScan.RowIndexCol)
    }
    val (masked, plain) = entries.partition(_.dvDir.isDefined)
    val plainDf =
      if (plain.isEmpty) None else Some(finish(rawScanRid(m, plain), plain))
    val maskedDf = if (masked.isEmpty) None else {
      val dv = readDvRows(masked.flatMap(_.dvDirs).distinct)
      val mdf = rawScanRid(m, masked)
      val fileRel = fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
      val alive = mdf.join(dv,
        fileRel === dv("file_rel") &&
          col(graftbridge.ManifestScan.RowIndexCol) === dv("pos"),
        "left_anti")
      Some(finish(alive, masked))
    }
    (plainDf, maskedDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _ => sys.error(s"rid read over zero entries at $root")
    }
  }

  /** [[rawScan]] under the rid-extended schema, always with row meta. */
  private def rawScanRid(m: VersionManifest,
      entries: Seq[ManifestEntry]): DataFrame = {
    val qualifiedRoot = fs.makeQualified(rootPath)
    val ext = StructType(snapshotSchema(m).fields :+
      org.apache.spark.sql.types.StructField(RowIdPhysCol,
        org.apache.spark.sql.types.LongType, nullable = true))
    val files = scanFiles(qualifiedRoot, entries)
    graftbridge.ManifestScan.parquetTable(spark, qualifiedRoot, ext,
      m.partitionBy, files, isStreaming = false, rowMeta = true,
      dataSkipping = scanSkipping(m, entries, files))
  }

  // --------------------------------------------------------- change feed

  /** The commit-window classifier every change-feed entry reads. For
    * the window (fromV, toV] it answers each commit's operation,
    * timestamp and file delta, and the delta between any two versions
    * of the window. fromV = -1 is "before the creating commit": an
    * empty manifest, so v0's files read as added. The history is read
    * at most once, and only when a feed asks. Manifests are read only
    * when a feed asks too: an append-only window reads its two
    * endpoints; the manifests in between are read by a per-commit
    * grain, or to attribute the endpoint's removals. Driver memory
    * stays O(files), not O(commits x files): the endpoints are kept
    * for the call, the last few other manifests and the last delta
    * only while a walk passes them, and each commit's removed/added
    * answer as two booleans. */
  private final class FeedWindow(val fromV: Long, val toV: Long,
      readHistory: () => Seq[HistoryEntry] =
        () => history(limit = Int.MaxValue)) {
    require(fromV >= -1 && fromV <= toV && manifestCommitted(toV),
      s"change-feed window ($fromV, $toV] of $root needs -1 <= from <= " +
        s"to <= the current version ${currentVersion.getOrElse(-1L)}")
    private val ends =
      scala.collection.mutable.Map.empty[Long, VersionManifest]
    private var recent = List.empty[(Long, VersionManifest)]
    private var lastDelta =
      Option.empty[((Long, Long), VersionedTable.FileDelta)]
    private val filesMoved =
      scala.collection.mutable.Map.empty[Long, (Boolean, Boolean)]
    private lazy val lines: Map[Long, HistoryEntry] = readHistory()
      .filter(h => h.version > fromV && h.version <= toV)
      .map(h => h.version -> h).toMap

    private def load(v: Long): VersionManifest =
      if (v < 0) VersionManifest(None, Seq.empty) else readManifest(v)

    def manifest(v: Long): VersionManifest =
      if (v == fromV || v == toV) ends.getOrElseUpdate(v, load(v))
      else recent.collectFirst { case (`v`, m) => m }.getOrElse {
        val m = load(v)
        recent = ((v, m) :: recent).take(4)
        m
      }

    def delta(a: Long, b: Long): VersionedTable.FileDelta =
      lastDelta.collect { case ((`a`, `b`), d) => d }.getOrElse {
        val d = new VersionedTable.FileDelta(manifest(a), manifest(b))
        if (b == a + 1) filesMoved(b) = (d.removed.nonEmpty, d.added.nonEmpty)
        lastDelta = Some((a, b) -> d)
        d
      }

    /** Did commit `v` remove files, and did it add any? */
    private def moved(v: Long): (Boolean, Boolean) =
      filesMoved.getOrElse(v, { delta(v - 1, v); filesMoved(v) })

    /** Commit `v`'s operation; None when its history line is missing. */
    def op(v: Long): Option[String] = lines.get(v).map(_.operation)

    /** Commit `v`'s M33 in-commit time. Fails loudly on a missing line:
      * a guessed time would corrupt every cursor keyed on it. */
    def timestamp(v: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.parse(
        lines.getOrElse(v, sys.error(s"no history line for version $v " +
          s"of $root — cannot stamp _commit_timestamp")).timestamp))

    /** Does every commit of (a, b] only move bytes (OPTIMIZE / REORG
      * PURGE)? Then its feed is empty by construction — proving that
      * with a diff would cost O(table). */
    def layoutOnly(a: Long, b: Long): Boolean =
      ((a + 1) to b).forall(v => op(v).exists(VersionedTable.layoutOp))

    /** Can the rows of (a, b] be derived from file and mask deltas?
      * Every commit needs its history line and must be neither a
      * RESTORE (masks may shrink) nor a layout op (file identity
      * broken); no mask may shrink; and every removal must be a
      * whole-file death — DV DML drops a file only once its mask
      * covers every row, and a DELETE / TRUNCATE that added no files
      * kept no survivors — so the file's prior live rows are exactly
      * the deleted ones. */
    def derivable(a: Long, b: Long): Boolean = {
      val d = delta(a, b)
      ((a + 1) to b).forall(v => op(v).exists(o =>
        !VersionedTable.layoutOp(o) && !o.startsWith("RESTORE"))) &&
        d.maskShrunk.isEmpty &&
        (d.removed.isEmpty || ((a + 1) to b).forall { v =>
          val (removed, added) = moved(v)
          !removed || op(v).exists(VersionedTable.deathsOnly(_, added))
        })
    }
  }

  /** `df` in `toM`'s logical columns, between `lead` and `extra`. A
    * `df` in an older version `at`'s logical columns is matched by
    * physical column, which a RENAME keeps. A column `df` lacks — files
    * written before a schema change — reads null. */
  private def aligned(toM: VersionManifest, df: DataFrame,
      lead: Seq[String] = Nil, extra: Seq[String] = Nil,
      at: Option[VersionManifest] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def physical(m: VersionManifest): Map[String, String] =
      if (m.mapping.nonEmpty) m.mapping.toMap
      else logicalSchema(m).fieldNames.map(n => n -> n).toMap
    val nameInDf: String => Option[String] = at match {
      case Some(m) if m ne toM =>
        val toPhysical = physical(toM)
        val byPhysical = physical(m).map(_.swap)
        n => toPhysical.get(n).flatMap(byPhysical.get)
      case _ => Some(_)
    }
    df.select(lead.map(col) ++ logicalSchema(toM).fields.toSeq.map { f =>
      nameInDf(f.name).filter(df.columns.contains) match {
        case Some(n) => col(n).as(f.name)
        case None    => lit(null).cast(f.dataType).as(f.name)
      }
    } ++ extra.map(col): _*)
  }

  /** No rows, in `shape`'s columns. A batch feed becomes a local
    * relation, so it plans no file scan; a streaming feed must stay a
    * streaming frame, so `shape` itself is returned and must scan no
    * files. */
  private def emptyFeed(shape: DataFrame): DataFrame =
    if (shape.isStreaming) shape
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      shape.schema)

  /** The insert/delete feed of (a, b] inside `w`, in `b`'s logical
    * schema, tagged `_change_type`. Derived from the delta whenever
    * [[FeedWindow.derivable]] — O(changed files + masked rows), never
    * the table:
    *
    *  - added files: their live rows as inserts (`b`'s masks applied —
    *    a row inserted and deleted inside the window collapses away);
    *  - re-masked files: the newly masked rows as deletes (a scan of
    *    just those files semi-joined against the mask delta);
    *  - removed files (whole-file deaths): their `a`-live rows as
    *    deletes;
    *  - a layout-only window: nothing.
    *
    * A batch feed over any other window (an overwrite, a RESTORE, a
    * layout op mixed with row changes, a history gap) falls back to
    * the value-based symmetric diff of the two snapshots (`exceptAll`
    * both ways — two full scans). The derived feed is identity-based
    * (an UPDATE to the same values emits a delete+insert pair), the
    * fallback value-based (such pairs cancel); signed consumers are
    * insensitive to the difference. A streaming feed cannot plan that
    * diff, so it fails loudly on a removal outside a layout-only
    * window or on a shrunk mask; it admits the rest without asking
    * the history. */
  private def rowFeed(w: FeedWindow, a: Long, b: Long,
      isStreaming: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val d = w.delta(a, b)
    def tag(df: DataFrame, t: String): DataFrame =
      aligned(d.to, df).withColumn("_change_type", lit(t))
    // `a`'s rows under `b`'s column names: a RENAME keeps the physical
    // column, so name-matching `a`'s logical frame would read it null
    def atFrom(es: Seq[ManifestEntry]): DataFrame = logicalize(d.to,
      readFilesPhysical(d.from, es, isStreaming = false, withRowMeta = false))
    if ((d.appendOnly && d.added.isEmpty) ||
        (d.removed.nonEmpty && w.layoutOnly(a, b)))
      return emptyFeed(tag(readFiles(d.to, Seq.empty, isStreaming), "insert"))
    if (isStreaming) {
      if (d.removed.nonEmpty) sys.error(
        s"versions $a..$b of $root removed ${d.removed.size} file(s) " +
          "outside a pure OPTIMIZE/REORG PURGE window — the change " +
          "feed cannot derive a row-level diff of a rewrite from " +
          "manifests; keep the stream's lag inside the maintenance " +
          "cadence or re-seed the stream")
      d.maskShrunk.foreach(e => sys.error(
        s"versions $a..$b of $root shrank the deletion mask of " +
          s"${e.relPath} (a RESTORE) — the change feed cannot derive " +
          "resurrected rows; re-seed the stream"))
    } else if (!d.appendOnly && !w.derivable(a, b)) {
      val before = aligned(d.to, atFrom(d.from.entries))
      val after = aligned(d.to, readFiles(d.to, d.to.entries))
      return tag(after.exceptAll(before), "insert")
        .unionByName(tag(before.exceptAll(after), "delete"))
    }
    val deletes =
      Option.when(d.remasked.nonEmpty)(newlyMaskedRows(d.to,
        d.remasked.map { case (o, e) => e -> o.dvDirs }, isStreaming)) ++
      Option.when(d.removed.nonEmpty)(atFrom(d.removed))
    (tag(readFiles(d.to, d.added, isStreaming), "insert") +:
      deletes.map(tag(_, "delete")).toSeq).reduce(_ unionByName _)
  }

  /** The update-image feed of (a, b] (Delta CDF `update_preimage` /
    * `update_postimage`): row tracking pairs each `a`-row with its
    * `b`-row by `_row_id`, so a rewritten row surfaces as an update
    * pair, a row only at `a` as a delete, only at `b` as an insert —
    * and a row that merely MOVED files (compaction, purge) with
    * identical values produces nothing, which the value-diffing
    * fallback of [[rowFeed]] cannot promise. Reads only the delta's
    * files (a re-masked file joins on both sides: its untouched rows
    * pair up value-equal and vanish), so cost is O(changed files); a
    * layout-only window is answered from the history alone. Columns:
    * `_row_id`, `b`'s logical columns, `_change_type`. */
  private def updateFeed(w: FeedWindow, a: Long, b: Long): DataFrame = {
    import org.apache.spark.sql.functions.{array, coalesce, col, explode,
      lit, struct, when}
    val d = w.delta(a, b)
    require(d.from.rowIdHw.isDefined && d.to.rowIdHw.isDefined,
      s"update images need row tracking enabled at both ends of " +
        s"$root v$a..v$b")
    val names = logicalSchema(d.to).fieldNames.toSeq
    val values = names.map(col)
    // both sides under `b`'s column names, as in [[rowFeed]]
    def side(m: VersionManifest, es: Seq[ManifestEntry]): DataFrame =
      aligned(d.to,
        if (es.isEmpty)
          readFiles(d.to, es).withColumn(RowIdCol, lit(null).cast("long"))
        else logicalize(d.to, readFilesPhysicalRid(m, es))
          .withColumnRenamed(RowIdPhysCol, RowIdCol),
        extra = Seq(RowIdCol))
    if (w.layoutOnly(a, b))
      return emptyFeed(side(d.to, Seq.empty).select(
        (col(RowIdCol) +: values :+ lit("insert").as("_change_type")): _*))
    val pre = side(d.from, d.removed ++ d.remasked.map(_._1))
      .select(col(RowIdCol).as("__rid_l"), struct(values: _*).as("_pre"))
    val post = side(d.to, d.added ++ d.remasked.map(_._2))
      .select(col(RowIdCol).as("__rid_r"), struct(values: _*).as("_post"))
    pre.join(post, col("__rid_l") === col("__rid_r"), "full_outer")
      // rows that only changed address (compaction/purge) are NOT
      // changes; insert/delete rows have one side null, so <=> is false
      .filter(!(col("_pre") <=> col("_post")))
      .select(coalesce(col("__rid_l"), col("__rid_r")).as(RowIdCol),
        explode(
          when(col("__rid_l").isNull,
            array(struct(col("_post").as("v"), lit("insert").as("t"))))
          .when(col("__rid_r").isNull,
            array(struct(col("_pre").as("v"), lit("delete").as("t"))))
          .otherwise(array(
            struct(col("_pre").as("v"), lit("update_preimage").as("t")),
            struct(col("_post").as("v"), lit("update_postimage").as("t")))))
          .as("_e"))
      .select((col(RowIdCol) +: names.map(n => col(s"_e.v.$n").as(n)) :+
        col("_e.t").as("_change_type")): _*)
  }

  /** The feed of each span (a, b], in `w.toV`'s logical schema (a
    * slice is in its own end's schema; `lead` and `_change_type` keep
    * their places), stamped with Delta CDF's `_commit_version` /
    * `_commit_timestamp` of its end commit `b` (a plan-time literal
    * per slice). No spans: the empty feed at `toV`, stamped with typed
    * nulls. */
  private def stamped(w: FeedWindow, spans: Seq[(Long, Long)],
      slice: (Long, Long) => DataFrame,
      lead: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.lit
    def stamp(a: Long, b: Long, v: org.apache.spark.sql.Column,
        ts: org.apache.spark.sql.Column): DataFrame =
      aligned(w.manifest(w.toV), slice(a, b), lead, Seq("_change_type"),
        at = Some(w.manifest(b)))
        .withColumn("_commit_version", v).withColumn("_commit_timestamp", ts)
    spans.map { case (a, b) => stamp(a, b, lit(b), lit(w.timestamp(b))) }
      .reduceOption(_ unionByName _)
      .getOrElse(stamp(w.toV, w.toV, lit(null).cast("long"),
        lit(null).cast("timestamp")))
  }

  /** The batch feed of `w`: the endpoint diff, or with `commitMeta`
    * one stamped slice per commit. */
  private def feed(w: FeedWindow, updateImages: Boolean,
      commitMeta: Boolean): DataFrame = {
    val slice: (Long, Long) => DataFrame =
      if (updateImages) updateFeed(w, _, _)
      else rowFeed(w, _, _, isStreaming = false)
    if (!commitMeta) slice(w.fromV, w.toV)
    else stamped(w, ((w.fromV + 1) to w.toV).map(v => (v - 1, v)), slice,
      lead = if (updateImages) Seq(RowIdCol) else Nil)
  }

  /** Change feed of the window (fromV, toV] (Delta CDF): the rows that
    * changed going `fromV` → `toV`, in `toV`'s logical schema, tagged
    * `_change_type` "insert" / "delete". `fromV = -1` is before the
    * creating commit, so the window includes v0 and its rows are
    * inserts. Derived from manifests and DV delta chains whenever the
    * window allows — a day of appends on a 100 TB table reads one day
    * of files, a DV delete only the files it touched, a pure OPTIMIZE /
    * REORG PURGE window nothing — and a value-based snapshot diff
    * otherwise ([[rowFeed]] has the rules; keep CDC cursors inside the
    * maintenance cadence to stay derived). Requires
    * `-1 <= fromV <= toV <= current`.
    *
    *  - `updateImages`: rows pair by row tracking's `_row_id`, so a
    *    rewritten row is an `update_preimage` / `update_postimage` pair
    *    and a row that only moved files is no change; adds a leading
    *    `_row_id` column. Needs row tracking at both ends, so not
    *    `fromV = -1`.
    *  - `commitMeta`: one slice per commit, each stamped with its
    *    `_commit_version` and M33 `_commit_timestamp` (the fields
    *    cursors, audits and SCD2 effective dates key off). Each slice
    *    plans only its own commit's files. */
  def changes(fromV: Long, toV: Long, updateImages: Boolean = false,
      commitMeta: Boolean = false): DataFrame = {
    require(!updateImages || fromV >= 0,
      s"update images pair rows by row tracking's _row_id, and there is " +
        s"no row-tracked version before the creating commit of $root " +
        s"(fromV = $fromV); start at a version with row tracking enabled")
    feed(new FeedWindow(fromV, toV), updateImages, commitMeta)
  }

  /** [[changes]] between two commit TIMESTAMPS (Delta CDF's
    * `startingTimestamp`/`endingTimestamp`): the start rounds FORWARD
    * to the first version committed at or after `fromTs` (that
    * commit's changes are included, Delta's inclusive contract), the
    * end rounds BACK to the last version at or before `toTs`; both
    * resolve over one history read, through [[versionAt]]'s rule. A
    * start at the creating commit includes v0's rows as inserts.
    * Throws when no commit falls inside the window — an empty feed
    * would be indistinguishable from a wrong clock. */
  def changesBetweenTimestamps(fromTs: String, toTs: String,
      commitMeta: Boolean = false): DataFrame = {
    val hist = history(limit = Int.MaxValue)
    val fromV = versionIn(hist, fromTs, forward = true).getOrElse(
      sys.error(s"no commit of $root at or after $fromTs (newest: " +
        s"${hist.headOption.map(_.timestamp).getOrElse("none")})"))
    val toV = versionAtOrBefore(hist, toTs)
    require(fromV <= toV,
      s"no commits of $root inside [$fromTs, $toTs] " +
        s"(first at-or-after start: v$fromV; last at-or-before end: v$toV)")
    feed(new FeedWindow(fromV - 1, toV, () => hist), updateImages = false,
      commitMeta)
  }

  /** [[changes]] computed over COMMIT SPANS and unioned — the signed-
    * consumer feed (IVM folds: inserts +, deletes −; an insert-then-
    * delete pair either compacts inside a span or cancels in the fold,
    * so both give the same folded state). Maximal runs of derivable
    * commits plan as ONE endpoint slice each — a 1000-commit
    * append/DML backlog is one plan, not a 1000-way union — layout
    * commits contribute nothing, and only non-derivable commits
    * (overwrites, RESTOREs, history gaps) pay a single-commit snapshot
    * diff. A window MIXING DML with OPTIMIZE therefore stays
    * O(changed files + masked rows), where the endpoint form must fall
    * back. Every slice reads in `toV`'s logical schema. Driver cost:
    * one manifest read per commit, and one more per span start. */
  def changesPerCommit(fromV: Long, toV: Long): DataFrame = {
    val w = new FeedWindow(fromV, toV)
    val slices = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def slice(a: Long, b: Long): Unit = slices += aligned(w.manifest(toV),
      rowFeed(w, a, b, isStreaming = false), extra = Seq("_change_type"),
      at = Some(w.manifest(b)))
    var spanStart = -1L // first commit of the open span; -1 = none
    def flushSpan(endV: Long): Unit = if (spanStart >= 0) {
      slice(spanStart - 1, endV)
      spanStart = -1L
    }
    ((fromV + 1) to toV).foreach { v =>
      if (w.derivable(v - 1, v)) { if (spanStart < 0) spanStart = v }
      else {
        flushSpan(v - 1)
        if (!w.layoutOnly(v - 1, v)) slice(v - 1, v)
      }
    }
    flushSpan(toV)
    slices.reduceOption(_ unionByName _)
      .getOrElse(rowFeed(w, toV, toV, isStreaming = false))
  }

  /** One micro-batch of the data stream
    * ([[org.apache.spark.sql.graftbridge.VersionedStreamSource]] /
    * `Streaming.versionedSource`): the snapshot at `toV` when `fromV`
    * is None (the initial load), else exactly the files the range
    * (fromV, toV] ADDED — a version of appends streams one version of
    * files, never the table. A commit that changed existing rows
    * (removed files or extended DV masks) breaks file-to-row identity;
    * `policy` says what happens to it ([[VersionedTable.ChangePolicy]]).
    * The per-commit policies plan each admitted file AS IT APPEARED at
    * its commit (its DV state then), so a file masked later in the
    * range still streams its at-commit rows — at-least-once, as
    * `IgnoreChanges`. Frames are streaming-tagged for the
    * MicroBatchExecution plan splice. */
  def streamBatch(fromV: Option[Long], toV: Long,
      policy: VersionedTable.ChangePolicy): DataFrame = {
    import VersionedTable.ChangePolicy._
    val w = new FeedWindow(fromV.getOrElse(-1L), toV)
    val d = w.delta(w.fromV, toV)
    val entries = policy match {
      case _ if fromV.isEmpty || policy == IgnoreChanges => d.added
      case Fail =>
        if (!d.appendOnly) sys.error(
          s"versions ${w.fromV}..$toV of $root removed " +
            s"${d.removed.size} file(s) " +
            (if (d.remasked.nonEmpty) "and masked rows via deletion " +
              "vectors " else "") +
            "(overwrite/compaction/delete) — a streaming source needs " +
            "append-only commits; set ignoreChanges=true to stream only " +
            "added files (at-least-once for rewritten rows)")
        d.added
      case _ => ((w.fromV + 1) to toV).flatMap { v =>
        val c = w.delta(v - 1, v)
        if (c.appendOnly) c.added
        else if (policy == SkipChangeCommits || c.added.isEmpty) Seq.empty
        else sys.error(
          s"version $v of $root is a rewrite commit (removed " +
            s"${c.removed.size} file(s)" +
            (if (c.remasked.nonEmpty) ", extended DV masks" else "") +
            s", added ${c.added.size}) — ignoreDeletes only admits " +
            "delete-only commits; use skipChangeCommits to skip " +
            "rewrites wholesale, or ignoreChanges to stream their " +
            "added files at-least-once")
      }
    }
    readFiles(d.to, entries, isStreaming = true)
  }

  /** One CHANGE-FEED micro-batch for (fromV, toV] — the streaming CDF
    * source's planner (Delta `readChangeFeed` streaming): [[rowFeed]]'s
    * derived rows, streaming-tagged throughout (the V1 Source contract;
    * a row-level diff via exceptAll cannot be streaming-planned, which
    * is why a window it cannot derive fails loudly — keep the stream's
    * lag inside the maintenance cadence, as with any CDC reader). The
    * initial batch (fromV None) is the snapshot at `toV` as inserts.
    * `commitMeta` stamps `_commit_version` / `_commit_timestamp` per
    * commit; the initial snapshot stamps its own version, Delta's CDF
    * streaming behaviour. */
  def streamChangeBatch(fromV: Option[Long], toV: Long,
      commitMeta: Boolean): DataFrame = {
    val w = new FeedWindow(fromV.getOrElse(-1L), toV)
    val slice: (Long, Long) => DataFrame = rowFeed(w, _, _, isStreaming = true)
    if (!commitMeta) slice(w.fromV, toV)
    else stamped(w,
      if (fromV.isEmpty) Seq((-1L, toV))
      else ((w.fromV + 1) to toV).map(v => (v - 1, v)), slice)
  }

  // ------------------------------------------------------ column mapping

  private val identRe = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Current (logical, physical) column mapping, seeding the identity
    * mapping from the physical schema on first use. Mapping ops
    * require identifier-shaped column names (the manifest header
    * encodes pairs with `>` and `,`). */
  /** Physical name for a LOGICAL column under the active mapping.
    * Row-level DELETE/UPDATE frames are logicalized, but manifest
    * stats are keyed by PHYSICAL parquet names — after a rename the
    * logical name may even equal a DIFFERENT (dropped) physical
    * column, so an untranslated stats lookup could prune files that
    * DO hold matching rows. Identity when no mapping is active;
    * unknown logical names fail loudly (a dropped column has no
    * stats semantics to fall back to). */
  private def physFor(m: VersionManifest, column: String): String =
    if (m.mapping.isEmpty) column
    else m.mapping.find(_._1 == column).map(_._2).getOrElse(sys.error(
      s"no column $column at $root " +
        s"(has: ${m.mapping.map(_._1).mkString(",")})"))

  private def mappingOrIdentity(m: VersionManifest): Seq[(String, String)] =
    if (m.mapping.nonEmpty) m.mapping
    else {
      val names = snapshotSchema(m).fields.map(_.name).toSeq
      names.foreach(n => require(identRe.matches(n),
        s"column mapping requires identifier column names; '$n' at $root"))
      names.map(n => (n, n))
    }

  /** Refuse schema changes to a column other table features depend
    * on — Delta's rule: a column referenced by a CHECK constraint or
    * a generated-column declaration can be neither renamed nor
    * dropped (the stored SQL/generator text would silently dangle:
    * enforcement and pruning would either break loudly later or,
    * worse, keep matching a stale physical name). Constraint exprs
    * are matched on identifier word boundaries. */
  private def requireUnreferenced(m: VersionManifest, name: String,
      what: String): Unit = {
    m.generated.find(g => genFormat(g._2).exists(_._1 == name))
      .foreach(g => sys.error(
        s"cannot $what column $name of $root: generated partition " +
          s"column ${g._1} derives from it (${g._2})"))
    val wordRe = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    m.constraints.find { case (_, e) => wordRe.findFirstIn(e).isDefined }
      .foreach { case (n, e) => sys.error(
        s"cannot $what column $name of $root: CHECK constraint $n " +
          s"($e) references it — drop the constraint first") }
  }

  /** ALTER TABLE … RENAME COLUMN without rewriting a byte of data
    * (Delta column-mapping semantics): a manifest-only commit records
    * the new LOGICAL name against the unchanged PHYSICAL parquet
    * column. Partition columns are refused (their name is baked into
    * every file path and partition-value map), as are columns a CHECK
    * constraint or generated-column declaration references. Reads at
    * prior versions still see the old name — the mapping is versioned
    * state like everything else. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(identRe.matches(newName),
      s"new column name '$newName' must be a plain identifier")
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(!cur.partitionBy.contains(oldName),
        s"cannot rename partition column $oldName of $root")
      requireUnreferenced(cur, oldName, "rename")
      val mapping = mappingOrIdentity(cur)
      require(mapping.exists(_._1 == oldName),
        s"no column $oldName at $root " +
          s"(has: ${mapping.map(_._1).mkString(",")})")
      require(!mapping.exists(_._1 == newName),
        s"column $newName already exists at $root")
      val next = curV + 1
      val updated = mapping.map { case (l, p) =>
        if (l == oldName) (newName, p) else (l, p) }
      writeManifest(next, cur.copy(mapping = updated))
      appendHistory(next, s"RENAME COLUMN $oldName TO $newName",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** ALTER TABLE … DROP COLUMN without rewriting a byte of data: the
    * physical column stays in every existing file (and in the frozen
    * physical schema); the mapping simply stops projecting it.
    * Appends after the drop write files WITHOUT the column — reads
    * null-fill those under the physical schema, and the mapping drops
    * the column either way. Partition columns are refused; the last
    * column cannot be dropped. */
  def dropColumn(name: String): Long = {
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(!cur.partitionBy.contains(name),
        s"cannot drop partition column $name of $root")
      requireUnreferenced(cur, name, "drop")
      val mapping = mappingOrIdentity(cur)
      require(mapping.exists(_._1 == name),
        s"no column $name at $root " +
          s"(has: ${mapping.map(_._1).mkString(",")})")
      require(mapping.size > 1, s"cannot drop the last column of $root")
      val next = curV + 1
      writeManifest(next,
        cur.copy(mapping = mapping.filterNot(_._1 == name)))
      appendHistory(next, s"DROP COLUMN $name",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE (Delta type widening's DDL
    * form) without rewriting a byte of data: ONE manifest-only commit
    * records the WIDENED physical snapshot schema (int→long,
    * float→double — the lossless promotions [[VersionedTable.widens]]
    * sanctions); every existing file keeps its narrow physical type
    * and the parquet vectorized reader up-casts at scan time, exactly
    * as append-time widening already relies on. Stats pruning is
    * unaffected — manifest min/max are stored as unit-preserving
    * doubles and predicate literals convert through the (now wider)
    * analyzed column type. Appends after the commit write the wide
    * type natively; narrow producers keep working through the
    * append path's `allowTypeWidening`. Partition columns are refused
    * (their values live in file paths, typed by the layout). Time
    * travel at prior versions sees the narrow type — versioned state
    * like everything else. */
  def widenColumnType(name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      val mapping = mappingOrIdentity(cur)
      val phys = mapping.find(_._1 == name).map(_._2).getOrElse(
        sys.error(s"no column $name at $root " +
          s"(has: ${mapping.map(_._1).mkString(",")})"))
      require(!cur.partitionBy.contains(phys),
        s"cannot widen partition column $name of $root — partition " +
          "values are typed by the file layout")
      val schema = snapshotSchema(cur)
      val f = schema(phys)
      require(f.dataType != to,
        s"column $name of $root is already ${to.catalogString}")
      require(VersionedTable.widens(f.dataType, to),
        s"ALTER COLUMN TYPE only widens losslessly " +
          s"(int->bigint, float->double): $name is " +
          s"${f.dataType.catalogString}, requested ${to.catalogString}")
      val widened = StructType(schema.fields.map(x =>
        if (x.name == phys) x.copy(dataType = to) else x))
      val next = curV + 1
      writeManifest(next, cur.copy(schema = Some(widened)))
      appendHistory(next,
        s"ALTER COLUMN $name TYPE ${to.catalogString}",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** ALTER TABLE … ADD COLUMN … NOT NULL DEFAULT <literal> without
    * rewriting a byte of data — the Postgres "fast ADD COLUMN" /
    * Iceberg `initial-default` semantics a 100 TB backfill actually
    * needs: ONE manifest-only commit records the new column and its
    * default SQL literal; every file written before the commit lacks
    * the column physically, scans as null, and reads the DEFAULT at
    * the single [[logicalize]] choke point instead. Appends after the
    * commit may carry the column (type-checked) or omit it (they read
    * the default too); rewrites (UPDATE / compaction / REORG) that
    * materialize values physically make the coalesce a no-op for
    * their files. The NOT NULL contract is what makes the lazy read
    * sound: an explicit null in the column is indistinguishable from
    * "file predates the column", so nulls read as the default — the
    * standard DEFAULT+NOT NULL pairing, enforced by documentation and
    * the non-null default validation below. CDF windows crossing this
    * commit take the value-diff path and report the logical backfill
    * as changes — the values genuinely changed. Stats pruning on the
    * new column is conservative: pre-addition files have no stats and
    * are always read, then row-filtered on the defaulted value.
    * Time travel: reads at prior versions see neither column nor
    * default — versioned state like everything else. */
  def addColumnWithDefault(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: String): Long = {
    require(identRe.matches(name),
      s"new column name '$name' must be a plain identifier")
    // validate OUTSIDE the commit: bad SQL should fail fast, not
    // inside the claim window
    val probe = spark.range(1).select(
      org.apache.spark.sql.functions.expr(defaultSql).cast(dataType))
    require(!probe.head.isNullAt(0),
      s"default '$defaultSql' must evaluate to a non-null $dataType " +
        "(the lazy-backfill read cannot distinguish null from " +
        "pre-addition rows)")
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      val schema = snapshotSchema(cur)
      require(!schema.fieldNames.contains(name),
        s"column $name already exists at $root")
      require(!logicalSchema(cur).fieldNames.contains(name),
        s"column $name already exists (logically) at $root")
      require(!cur.partitionBy.contains(name),
        s"$name is a partition column of $root")
      val next = curV + 1
      // under an active mapping the new column maps to itself — else
      // the mapping-projected logical schema would hide it
      val mapping2 =
        if (cur.mapping.isEmpty) cur.mapping
        else cur.mapping :+ (name, name)
      writeManifest(next, cur.copy(
        schema = Some(StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(name, dataType,
            nullable = true))),
        mapping = mapping2,
        defaults = cur.defaults :+ (name, defaultSql)))
      appendHistory(next, s"ADD COLUMN $name DEFAULT",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Time travel by TIMESTAMP (Delta `timestampAsOf`): reads the
    * newest version whose commit time is at or before `ts`
    * (ISO-8601 instant). Resolution walks the history (bounded reads
    * via the checkpoint fold); commit timestamps are wall-clock, so
    * this is an OPERATOR convenience ("what did the table say at
    * 2 am"), not a determinism surface — hash-verified queries pin
    * versions by NUMBER. Throws if `ts` predates the first commit. */
  def readTimestampAsOf(ts: String): DataFrame =
    readVersion(versionAtTimestamp(ts))

  /** RESTORE ... TO TIMESTAMP AS OF (Delta): [[restore]] to the
    * version [[versionAtTimestamp]] resolves — "roll the table back
    * to what it said at 2 am", the operational form every incident
    * runbook uses (version numbers are what the postmortem finds,
    * timestamps are what the pager says). Same forward-commit
    * semantics as restore(v): history is preserved, row-id high water
    * never rewinds. */
  def restoreToTimestamp(ts: String): Unit = restore(versionAtTimestamp(ts))

  /** The version [[readTimestampAsOf]] resolves: [[versionAt]],
    * failing when `ts` predates the first commit. */
  def versionAtTimestamp(ts: String): Long =
    versionAtOrBefore(history(limit = Int.MaxValue), ts)

  private def versionAtOrBefore(hist: Seq[HistoryEntry], ts: String): Long =
    versionIn(hist, ts, forward = false).getOrElse(sys.error(
      s"no version of $root existed at or before $ts " +
        s"(earliest commit: ${hist.lastOption.map(_.timestamp)
          .getOrElse("none")})"))

  /** The version the commit-time instant `ts` (ISO-8601) names — the
    * one timestamp resolution of every reader. `forward`: the FIRST
    * version committed at or after `ts` (Delta's `startingTimestamp`:
    * "every change from this instant on", so that commit is
    * included); otherwise the NEWEST version committed at or before
    * it (time travel, an ending bound). None when no commit lies on
    * that side of `ts` — for `forward`, nothing has happened there
    * yet. */
  def versionAt(ts: String, forward: Boolean = false): Option[Long] =
    versionIn(history(limit = Int.MaxValue), ts, forward)

  /** [[versionAt]] over history `hist`. A filter, NOT a prefix scan:
    * commit timestamps are wall clock, and a clock step-back between
    * commits would truncate a scan at the dent. */
  private def versionIn(hist: Seq[HistoryEntry], ts: String,
      forward: Boolean): Option[Long] = {
    val target = java.time.Instant.parse(ts)
    val side = hist.filter { h =>
      val t = java.time.Instant.parse(h.timestamp)
      if (forward) !t.isBefore(target) else !t.isAfter(target)
    }.map(_.version)
    if (forward) side.minOption else side.maxOption
  }

  private val genExprRe =
    "^(day|to_date|month|hour|year)\\(([A-Za-z_][A-Za-z0-9_]*)\\)$".r

  /** Iceberg-style HASH-BUCKET partition transform:
    * `bucket<n>(<col>)` (comma-free spelling — the manifest's
    * `#generated` pair codec is comma-separated) — the partition
    * value is `pmod(xxhash64(col), n)` (xxhash64 at Spark's default
    * seed 42), the layout for HIGH-CARDINALITY key columns where
    * calendar truncations don't apply: n stays cluster-friendly while
    * POINT LOOKUPS on the source column prune to one bucket (1/n of
    * the files) straight from the manifest. Restricted to BIGINT
    * source columns so the driver-side hash at prune time is computed
    * over exactly the type the writer hashed. */
  private val genBucketRe = "^bucket(\\d+)\\(([A-Za-z_][A-Za-z0-9_]*)\\)$".r
  private def genBucket(gen: String): Option[(String, Int)] = gen match {
    case genBucketRe(n, src) => Some((src, n.toInt))
    case _ => None
  }

  /** Iceberg-style TRUNCATE partition transform: `trunc<w>(<col>)` —
    * the partition value is `col - pmod(col, w)` (floor truncation to
    * a width-w stripe, exact integer arithmetic), the ORDER-PRESERVING
    * sibling of [[genBucketRe]]: because stripes are contiguous, RANGE
    * predicates on the source column prune (a `[lo, hi]` read plans
    * only the stripes intersecting it), which a hash bucket can never
    * offer. Integral source columns only. Completes the Iceberg
    * transform family: identity (plain partitioning), bucket,
    * truncate, year/month/day/hour. */
  private val genTruncRe = "^trunc(\\d+)\\(([A-Za-z_][A-Za-z0-9_]*)\\)$".r
  private def genTrunc(gen: String): Option[(String, Long)] = gen match {
    case genTruncRe(w, src) => Some((src, w.toLong))
    case _ => None
  }

  /** The generator grammar: each form names the UTC truncation the
    * WRITER must render the partition value in (zero-padded, so the
    * string order IS the time order and pruning is one lexicographic
    * range test). `day`/`to_date` → `yyyy-MM-dd`, `month` →
    * `yyyy-MM`, `hour` → `yyyy-MM-dd-HH` (hyphenated: path-safe),
    * `year` → `yyyy`. Writers produce it with
    * `date_format(col, <pattern>)` under a UTC session. */
  private def genFormat(gen: String): Option[(String, String, scala.util.matching.Regex)] =
    gen match {
      case genExprRe(kind, src) =>
        val (pattern, valueRe) = kind match {
          case "day" | "to_date" =>
            ("yyyy-MM-dd", """^\d{4}-\d{2}-\d{2}$""".r)
          case "month" => ("yyyy-MM", """^\d{4}-\d{2}$""".r)
          case "year" => ("yyyy", """^\d{4}$""".r)
          case "hour" =>
            ("yyyy-MM-dd-HH", """^\d{4}-\d{2}-\d{2}-\d{2}$""".r)
        }
        Some((src, pattern, valueRe))
      case _ => None
    }

  /** Declare a GENERATED partition column (Delta `GENERATED ALWAYS
    * AS` pruning semantics) as a manifest-only commit: `partCol`'s
    * value is `genExpr` of a source column — grammar `day(<tsCol>)`
    * / `to_date(<tsCol>)` (UTC calendar day, `yyyy-MM-dd`),
    * `month(<tsCol>)` (`yyyy-MM`), `hour(<tsCol>)`
    * (`yyyy-MM-dd-HH`), `bucket<n>(<bigintCol>)` (Iceberg-style
    * hash bucket `pmod(xxhash64(col), n)`). From then on a `TsRange`
    * predicate on a truncation's SOURCE column — or a POINT
    * `NumRange` on a bucket's — prunes the derived partitions
    * directly (the writer remains responsible for actually computing
    * the column — same contract as Delta, where the writer path
    * enforces generation). Appends inherit the declaration like
    * partitioning does. */
  def recordGenerated(partCol: String, genExpr: String): Long = {
    val src = genFormat(genExpr).map(_._1)
      .orElse(genBucket(genExpr).map(_._1))
      .orElse(genTrunc(genExpr).map(_._1)).getOrElse(sys.error(
        s"unsupported generator '$genExpr' (grammar: day(<col>), " +
          "to_date(<col>), month(<col>), hour(<col>), year(<col>), " +
          "bucket<n>(<col>), trunc<w>(<col>))"))
    genBucket(genExpr).foreach { case (_, n) =>
      require(n > 0, s"bucket() needs a positive bucket count, got $n")
    }
    genTrunc(genExpr).foreach { case (_, w) =>
      require(w > 0, s"trunc() needs a positive stripe width, got $w")
    }
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(cur.partitionBy.contains(partCol),
        s"$partCol is not a partition column of $root " +
          s"(partitioned by: ${cur.partitionBy.mkString(",")})")
      // LOGICAL schema: the generator names the column users filter
      // on, which on a mapped table is the logical name (predicates
      // in generatedSurvives match logical names; renames of a
      // referenced source are refused from here on)
      require(logicalSchema(cur).fieldNames.contains(src),
        s"generator source column $src does not exist at $root")
      // bucket prune-time hashing must reproduce the writer's hash
      // bit-for-bit, so the source type is pinned to BIGINT (xxhash64
      // of an int and of a long differ)
      genBucket(genExpr).foreach { case (s, _) =>
        require(logicalSchema(cur)(s).dataType ==
          org.apache.spark.sql.types.LongType,
          s"bucket() generators need a BIGINT source column; $s is " +
            s"${logicalSchema(cur)(s).dataType.simpleString} at $root")
      }
      genTrunc(genExpr).foreach { case (s, _) =>
        val dt = logicalSchema(cur)(s).dataType
        require(dt == org.apache.spark.sql.types.LongType ||
          dt == org.apache.spark.sql.types.IntegerType,
          s"trunc() generators need an integral source column; $s is " +
            s"${dt.simpleString} at $root")
      }
      require(!cur.generated.exists(_._1 == partCol),
        s"$partCol already has a generator at $root")
      val next = curV + 1
      writeManifest(next,
        cur.copy(generated = cur.generated :+ (partCol, genExpr)))
      appendHistory(next, s"GENERATED $partCol AS $genExpr",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  /** Survive-test derived from the generated-column declarations: a
    * `TsRange` on a generator's SOURCE column excludes files whose
    * generated partition value lies outside the range's UTC span at
    * the generator's granularity. The truncation formats are
    * zero-padded, so string order IS time order and the test is one
    * lexicographic range check per entry — after validating the
    * value's shape first: files whose partition value doesn't parse
    * (foreign spellings, missing values) are kept, conservative like
    * all stats pruning. */
  private def generatedSurvives(m: VersionManifest,
      preds: Seq[VersionedTable.TablePredicate])
      : ManifestEntry => Boolean = {
    val tests: Seq[ManifestEntry => Boolean] = for {
      (partCol, gen) <- m.generated
      (src, pattern, valueRe) <- genFormat(gen).toSeq
      VersionedTable.TsRange(c, loIso, hiIso) <- preds if c == src
    } yield {
      val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern)
        .withZone(java.time.ZoneOffset.UTC)
      val loStr = fmt.format(java.time.Instant.parse(loIso))
      val hiStr = fmt.format(java.time.Instant.parse(hiIso))
      (e: ManifestEntry) => e.partitionValues.get(partCol).forall { v =>
        !valueRe.matches(v) || (v >= loStr && v <= hiStr)
      }
    }
    // bucket generators prune POINT lookups on the source column (a
    // NumRange collapsed to one exactly-integral value): the expected
    // bucket is the writer's own hash recomputed driver-side —
    // xxhash64 at seed 42 over the BIGINT value recordGenerated pinned
    // the source type to. Ranges wider than a point can't prune
    // (hash buckets scatter ranges), conservative like all pruning.
    val bucketTests: Seq[ManifestEntry => Boolean] = for {
      (partCol, gen) <- m.generated
      (src, n) <- genBucket(gen).toSeq
      VersionedTable.NumRange(c, lo, hi) <- preds
      if c == src && lo == hi && lo.isWhole &&
        math.abs(lo) <= 9007199254740992.0 // exact-long doubles only
    } yield {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(lo.toLong)),
        42L) // the xxhash64() function's fixed seed — the writer's
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
      val expected = (((h % n) + n) % n).toString
      (e: ManifestEntry) => e.partitionValues.get(partCol).forall { v =>
        !v.matches("-?\\d+") || v == expected
      }
    }
    // truncate generators prune RANGES: a width-w stripe whose start
    // is v covers [v, v + w - 1], so a file survives a [lo, hi] read
    // iff its stripe intersects it — contiguity is exactly what the
    // hash bucket trades away
    val truncTests: Seq[ManifestEntry => Boolean] = for {
      (partCol, gen) <- m.generated
      (src, w) <- genTrunc(gen).toSeq
      VersionedTable.NumRange(c, lo, hi) <- preds if c == src
    } yield { (e: ManifestEntry) =>
      e.partitionValues.get(partCol).forall { pv =>
        scala.util.Try(pv.toLong).toOption.forall { v =>
          // conservative at the edges: stripe starts beyond the
          // exact-double range can't be compared reliably (keep the
          // file), and an overflowing stripe end (v + w - 1 wraps
          // negative) means the TRUE end exceeds Long.MaxValue — it
          // certainly reaches lo, so only the hi test can prune
          math.abs(v) > 9007199254740992L || {
            val end = v + (w - 1) // w >= 1, so overflow iff end < v
            v <= hi && (end < v || end >= lo)
          }
        }
      }
    }
    e => tests.forall(_(e)) && bucketTests.forall(_(e)) &&
      truncTests.forall(_(e))
  }

  // ------------------------------------------------------------ bloom index

  private def bloomDirFor(v: Long, column: String) =
    new Path(root, s"_bloom/v$v/$column")

  /** Bloom sidecar rows: one (file_rel, serialized bloom) per indexed
    * file. Sidecars are always read with this schema: inferring it
    * would cost a Spark job per read. */
  private val bloomSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_rel",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bloom",
      org.apache.spark.sql.types.BinaryType)))

  private def readBloomRows(dir: Path): DataFrame =
    spark.read.schema(bloomSchema).parquet(dir.toString)

  /** PER-FILE BLOOM-FILTER INDEX (Delta's bloom filter index): one
    * bloom per data file over `column`, for POINT-LOOKUP file
    * skipping where min/max stats are useless — a hash-distributed
    * key column spans the whole domain in every file, so range stats
    * prune nothing, but a bloom answers "this file definitely does
    * not contain key k" per file. Built in ONE Spark job with no
    * shuffle ([[bloomFrame]]): `xxhash64` the column (fixed 8-byte
    * items whatever the type), one bloom per file sized from the
    * manifest's exact per-file row count. The sidecar
    * (`_bloom/v<version>/<column>/`) covers exactly the files of
    * manifest `<version>` and is O(files × bits) — ~1 MB per 1M-row
    * file at 3% fpp.
    *
    * Correctness is one-sided by construction: a bloom may claim a
    * key it doesn't hold (file read for nothing) but never misses
    * one it does, and files without a bloom are always read. Files
    * written after the build (plain appends) stay unindexed until
    * the next refresh; maintenance rewrites (OPTIMIZE / REORG PURGE)
    * and row-level DML (MERGE, UPDATE, DELETE rewrites) refresh the
    * sidecar themselves ([[refreshBloomIndexes]], one job) so
    * point-lookup skipping survives them with no manual rebuild —
    * Delta's OPTIMIZE-preserves-index behavior. DV masks don't shrink
    * blooms (deleted keys stay as false positives — reads stay
    * correct, the row predicate still applies). */
  def buildBloomIndex(column: String, fpp: Double = 0.03): Unit = {
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val phys = mappingOrIdentity(m).find(_._1 == column).map(_._2)
      .getOrElse(sys.error(s"no column $column at $root"))
    val dir = bloomDirFor(curV, column)
    bloomFrame(m, m.entries, phys, fpp).write.mode(SaveMode.Overwrite)
      .options(tableWriteOptions).parquet(dir.toString)
    writeFppMarker(dir, fpp)
  }

  /** One (file_rel, serialized bloom) row per non-empty file of
    * `entries` over PHYSICAL column `phys` — the build pass shared by
    * [[buildBloomIndex]] (all files) and [[refreshBloomIndexes]]
    * (files the old sidecar does not cover). Map-side, no shuffle: the
    * scan plans every file whole into one task, whose rows of a file
    * arrive together, so each task folds its files' hashes into one
    * bloom per file, sized from the manifest's exact per-file row
    * count. Bloom bits do not depend on insertion order, so the bytes
    * equal a build that groups the hashes by file first. */
  private[graft] def bloomFrame(m: VersionManifest,
      entries: Seq[ManifestEntry], phys: String, fpp: Double): DataFrame = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import spark.implicits._
    val rowsByFile = entries.map(e => e.relPath -> e.rows).toMap
    rawScan(m, entries, isStreaming = false, withRowMeta = true,
        wholeFiles = true)
      .select(
        fileRelCol(col(graftbridge.ManifestScan.FilePathCol))
          .as("file_rel"),
        xxhash64(col(phys)).as("h"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        val seen = scala.collection.mutable.HashSet.empty[String]
        new Iterator[(String, Array[Byte])] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, Array[Byte]) = {
            val file = rows.head._1
            // a file split across runs would yield partial blooms,
            // which skip files wrongly — fail instead
            require(seen.add(file), s"bloom build saw $file twice in a task")
            val bf = org.apache.spark.util.sketch.BloomFilter.create(
              math.max(1L, rowsByFile.getOrElse(file, 1L)), fpp)
            while (rows.hasNext && rows.head._1 == file)
              bf.putLong(rows.next()._2)
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            (file, bos.toByteArray)
          }
        }
      }.toDF("file_rel", "bloom")
  }

  /** The build fpp rides with the sidecar (`_fpp`, underscore-prefixed
    * so the parquet reader ignores it) so maintenance refreshes build
    * new blooms at the SAME error rate; absent marker (pre-refresh
    * sidecars) falls back to the build default. */
  private def writeFppMarker(dir: Path, fpp: Double): Unit = {
    val out = fs.create(new Path(dir, "_fpp"), true)
    try out.write(fpp.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readFppMarker(dir: Path): Double = {
    val p = new Path(dir, "_fpp")
    if (!fs.exists(p)) 0.03
    else scala.util.Try(readWholeFile(p).trim.toDouble).getOrElse(0.03)
  }

  /** Bring every bloom sidecar current with version `v` — called by
    * the maintenance rewrites (OPTIMIZE / REORG PURGE) and row-level
    * DML, whose fresh output files would otherwise silently degrade to
    * "always read" until a manual rebuild. ONE Spark job per indexed
    * column, none when nothing is missing: sidecar `_bloom/v<bv>`
    * covers exactly manifest `bv`'s files, so the files it lacks
    * (the commit's output, plus any post-index appends swept up along
    * the way) are known from the two manifests on the driver. One
    * write then carries the old sidecar's rows for live files forward
    * and appends map-side blooms ([[bloomFrame]]) scanned from ONLY
    * the uncovered files — sidecar bytes never touch the driver. Cost
    * O(uncovered data + sidecar size), never a table scan. */
  private[graft] def refreshBloomIndexes(v: Long): Unit = {
    val dir = new Path(root, "_bloom")
    if (!fs.exists(dir)) return
    val vRe = """^v(\d+)$""".r
    val byColumn: Map[String, Long] = fs.listStatus(dir).toSeq
      .flatMap(s => s.getPath.getName match {
        case vRe(d) if d.toLong <= v =>
          fs.listStatus(s.getPath).toSeq
            .map(c => c.getPath.getName -> d.toLong)
        case _ => Seq.empty
      }).groupMapReduce(_._1)(_._2)(_ max _)
    if (byColumn.isEmpty) return
    val m = readManifest(v)
    byColumn.foreach { case (column, bv) =>
      if (bv != v) refreshBloomColumn(m, v, column, bv)
    }
  }

  private def refreshBloomColumn(m: VersionManifest, v: Long,
      column: String, bv: Long): Unit = {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    // the indexed column may have been renamed/dropped since the
    // build — a vanished logical name quietly ends the index's life
    // (lookups fall back to reading every file, never wrong rows)
    val phys = mappingOrIdentity(m).find(_._1 == column).map(_._2)
      .getOrElse(return)
    val oldDir = bloomDirFor(bv, column)
    val old = readBloomRows(oldDir)
    // names only on the driver (manifest-sized, like the entries list);
    // a vacuum may have dropped manifest bv, and then the names come
    // from the sidecar itself (one extra job)
    val covered: Set[String] =
      if (manifestCommitted(bv)) readManifest(bv).entries.map(_.relPath).toSet
      else old.select("file_rel").as[String].collect().toSet
    val uncovered = m.entries.filterNot(e => covered.contains(e.relPath))
    if (uncovered.isEmpty) return // every live file indexed; extras inert
    val fpp = readFppMarker(oldDir)
    val live = spark.sparkContext.broadcast(m.entries.map(_.relPath).toSet)
    try {
      val isLive = udf((f: String) => live.value.contains(f))
      val out = old.filter(isLive(col("file_rel")))
        .unionByName(bloomFrame(m, uncovered, phys, fpp))
      val newDir = bloomDirFor(v, column)
      out.write.mode(SaveMode.Overwrite).options(tableWriteOptions)
        .parquet(newDir.toString)
      writeFppMarker(newDir, fpp)
    } finally live.destroy()
  }

  /** Newest version ≤ current with a bloom sidecar for `column`. */
  private def bloomVersionFor(column: String): Option[Long] = {
    val dir = new Path(root, "_bloom")
    if (!fs.exists(dir)) return None
    val cur = currentVersion.getOrElse(return None)
    val vRe = """^v(\d+)$""".r
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case vRe(v) if v.toLong <= cur &&
        fs.exists(bloomDirFor(v.toLong, column)) => v.toLong
    }.sorted.lastOption
  }

  /** The manifest entries a `column IN (values)` read must open,
    * after bloom skipping: indexed files whose bloom matches any
    * probe, plus every file without a bloom (post-index writes).
    * Exposed for the skip-count spec.
    *
    * Scale shape: ONE Spark job. The per-file blooms are evaluated IN
    * EXECUTORS — one distributed pass over the sidecar parquet, read
    * with its known schema — and only the NAMES of provably-unneeded
    * files return to the driver (file-name-sized, like every other
    * manifest-pruning path). Pulling the blooms themselves to the
    * driver would be ~1 TB of sidecar bytes on a 100 TB table (~800K
    * files × ~1.2 MB); driver cost here is O(file names), independent
    * of bloom size. The probe hashes are evaluated on the driver by
    * the same `xxhash64` expression that built the index, no job. */
  private[graft] def bloomPlannedEntries(column: String,
      values: Seq[Any]): Seq[ManifestEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    import spark.implicits._
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    bloomVersionFor(column) match {
      case None => m.entries
      case Some(bv) =>
        val dt = logicalSchema(m)(column).dataType
        // xxhash64 is type-sensitive — cast to the column type first,
        // in the session's time zone as the analyzer would
        val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
        val hs = values.map(v => new XxHash64(Seq(Cast(Literal(v), dt, tz)))
          .eval().asInstanceOf[Long]).toArray
        val dropped = readBloomRows(bloomDirFor(bv, column))
          .as[(String, Array[Byte])]
          .mapPartitions(_.collect {
            case (f, b)
              if !VersionedTable.bloomMightContainAny(b, hs) => f
          })
          .collect().toSet
        m.entries.filterNot(e => dropped.contains(e.relPath))
    }
  }

  /** Point-lookup read: `column IN (values)` planned through the
    * bloom index when one exists (falling back to a plain filtered
    * read when none does). The row predicate always applies on top,
    * so bloom false positives cost I/O, never wrong rows. */
  def readWhereKeyIn(column: String, values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val curV = currentVersion.getOrElse(
      sys.error(s"table $root does not exist"))
    val m = readManifest(curV)
    val kept = bloomPlannedEntries(column, values)
    val pred = col(column).isin(values: _*)
    if (kept.isEmpty) readFiles(m, m.entries).filter(pred).limit(0)
    else readFiles(m, kept).filter(pred)
  }

  /** CHECK CONSTRAINTS (Delta `ALTER TABLE … ADD CONSTRAINT`): a named
    * SQL predicate recorded in the manifest (`#constraints=` header)
    * and enforced at BOTH choke points every data-adding path funnels
    * through ([[write]] and [[replaceWhere]] — so appends, MERGE,
    * UPDATE rewrites, and compaction are all covered): a frame with
    * any row where the predicate evaluates to FALSE is rejected
    * before a byte of data is written. SQL CHECK semantics: NULL
    * passes (write `x IS NOT NULL` for NOT NULL enforcement). Adding
    * a constraint validates EXISTING rows first (one scan), exactly
    * like Delta; the commit itself is metadata-only. Enforcement cost
    * per write is one extra pass over the INCOMING frame only —
    * all constraints folded into a single aggregate. */
  def addCheckConstraint(name: String, sqlExpr: String): Long = {
    require(identRe.matches(name),
      s"constraint name '$name' must be a plain identifier")
    // parse errors surface at add time, not at the first write
    org.apache.spark.sql.functions.expr(sqlExpr)
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(!cur.constraints.exists(_._1 == name),
        s"constraint $name already exists at $root")
      enforceConstraints(read(), Seq(name -> sqlExpr))
      val next = curV + 1
      writeManifest(next,
        cur.copy(constraints = cur.constraints :+ (name, sqlExpr)))
      appendHistory(next, s"ADD CONSTRAINT $name",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }
  }

  def dropCheckConstraint(name: String): Long =
    commitWithRebase(rebase = false) { () =>
      val curV = currentVersion.getOrElse(
        sys.error(s"table $root does not exist"))
      val cur = readManifest(curV)
      require(cur.constraints.exists(_._1 == name),
        s"no constraint $name at $root " +
          s"(has: ${cur.constraints.map(_._1).mkString(",")})")
      val next = curV + 1
      writeManifest(next,
        cur.copy(constraints = cur.constraints.filterNot(_._1 == name)))
      appendHistory(next, s"DROP CONSTRAINT $name",
        cur.entries.map(_.liveRows).sum)
      pointTo(next)
      next
    }

  /** Active (name, SQL predicate) constraints at the current version. */
  def checkConstraints: Seq[(String, String)] =
    currentVersion.map(readManifest(_).constraints).getOrElse(Seq.empty)

  /** One aggregate pass counting violations of ALL constraints over
    * `df`; throws [[ConstraintViolationException]] naming the first
    * violated constraint. NULL predicate results pass (SQL CHECK). */
  private def enforceConstraints(df: DataFrame,
      cs: Seq[(String, String)]): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      sum(when(coalesce(expr(e), lit(true)), 0L).otherwise(1L)).as(s"c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0L) throw ConstraintViolationException(
        s"CHECK constraint $n ($e) violated by $bad row(s) written to " +
          root)
    }
  }

  /** M5: restore — a NEW version whose manifest is a copy of the
    * target's (Delta RESTORE semantics). No data is copied or moved;
    * version numbers are never reused. */
  def restore(v: Long): Unit = {
    require(manifestCommitted(v), s"version $v does not exist at $root")
    val m = readManifest(v)
    val next = currentVersion.map(_ + 1).getOrElse(0L)
    // row-id high water NEVER rewinds: a restore drops rows created
    // after v, but re-issuing their ids to future appends would let
    // two distinct rows ever share an id across the version history
    val curHw = currentVersion.map(readManifest).flatMap(_.rowIdHw)
    writeManifest(next,
      m.copy(rowIdHw = m.rowIdHw.map(h => curHw.fold(h)(c => h max c))))
    appendHistory(next, s"RESTORE to v$v", m.entries.map(_.liveRows).sum)
    pointTo(next)
  }

  private val historyLineRe =
    """\{"version": (\d+), "timestamp": "([^"]+)", "operation": "([^"]+)", "numRows": (-?\d+)\}""".r

  private def parseHistoryLine(line: String): Option[HistoryEntry] =
    historyLineRe.findFirstMatchIn(line).map(m =>
      HistoryEntry(m.group(1).toLong, m.group(2), m.group(3),
        m.group(4).toLong))

  private def readWholeFile(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private val checkpointRe = """^cp_v(\d+)\.jsonl$""".r
  private val commitHistRe = """^v(\d+)_\d+\.json$""".r

  /** Newest history checkpoint (version it covers through, path). */
  private def newestCheckpoint: Option[(Long, Path)] =
    if (!fs.exists(historyDir)) None
    else fs.listStatus(historyDir).map(_.getPath).toSeq
      .flatMap(p => p.getName match {
        case checkpointRe(d) => Some((d.toLong, p))
        case _ => None
      }).sortBy(_._1).lastOption

  /** Per-commit history files for versions AFTER `afterVersion`,
    * version-ascending. Files at or below a checkpoint's version are
    * never read — their content lives in the checkpoint (and a crash
    * that left both on disk is harmless for the same reason). */
  private def commitHistFiles(afterVersion: Long): Seq[(Long, Path)] =
    if (!fs.exists(historyDir)) Seq.empty
    else fs.listStatus(historyDir).map(_.getPath).toSeq
      .flatMap(p => p.getName match {
        case commitHistRe(d) => Some((d.toLong, p))
        case _ => None
      }).filter(_._1 > afterVersion).sortBy(_._1)

  /** History lines older than any per-commit file: the newest
    * checkpoint if one exists (the legacy single-file log was absorbed
    * into the first checkpoint, so it is only consulted before any
    * checkpoint exists). Oldest-first. */
  private def olderHistoryLines(cp: Option[(Long, Path)]): Seq[String] =
    cp match {
      case Some((_, p)) => readWholeFile(p).linesIterator.toSeq
      case None =>
        if (fs.exists(legacyHistoryPath))
          readWholeFile(legacyHistoryPath).linesIterator.toSeq
        else Seq.empty
    }

  /** Re-run `body` once if a file vanishes mid-read: a concurrent
    * checkpoint roll deletes absorbed per-commit files after the new
    * checkpoint is in place, so a second pass sees a consistent
    * (rolled) state. */
  private def retryOnVanished[A](body: => A): A =
    try body catch { case _: java.io.FileNotFoundException => body }

  /** M4: table history, newest first — O(limit) per-commit file reads
    * plus at most ONE checkpoint read, regardless of table age. Without
    * checkpoints a long-lived table (a streaming sink commits a version
    * per micro-batch) would pay O(all commits) reads on every call. */
  def history(limit: Int = 20): Seq[HistoryEntry] = retryOnVanished {
    val cp = newestCheckpoint
    val cpMax = cp.map(_._1).getOrElse(-1L)
    val recent = commitHistFiles(cpMax).reverse.iterator.take(limit)
      .map(f => readWholeFile(f._2)).flatMap(parseHistoryLine).toSeq
    if (recent.size >= limit) recent.take(limit)
    else (recent ++ olderHistoryLines(cp).reverse.flatMap(parseHistoryLine))
      .take(limit)
  }

  /** Newest history entry whose operation starts with `prefix`,
    * scanning per-commit files newest-first and stopping at the first
    * match — O(1) content reads for the common "was the newest commit
    * mine" case (the streaming sink's per-batch idempotence check runs
    * this every micro-batch). Falls back to one checkpoint read when no
    * recent commit matches. */
  def lastOperationWith(prefix: String): Option[HistoryEntry] = retryOnVanished {
    val cp = newestCheckpoint
    val cpMax = cp.map(_._1).getOrElse(-1L)
    commitHistFiles(cpMax).reverse.iterator
      .flatMap(f => parseHistoryLine(readWholeFile(f._2)))
      .find(_.operation.startsWith(prefix))
      .orElse(olderHistoryLines(cp).reverse.iterator
        .flatMap(parseHistoryLine)
        .find(_.operation.startsWith(prefix)))
  }

  /** Roll every history file into one checkpoint
    * (`_history/cp_v<upto>.jsonl`): reads become O(recent commits) + 1
    * instead of O(all commits). Runs automatically every
    * [[VersionedTable.historyCheckpointInterval]] commits; callable
    * any time. Crash-safe: the checkpoint is temp-written and renamed
    * with OVERWRITE before any absorbed file is deleted, and readers
    * skip per-commit files at or below the newest checkpoint's version,
    * so a crash mid-delete only leaves redundant bytes, never
    * duplicate or missing entries. */
  def checkpointHistory(): Unit = rollCheckpoint(_ => true)

  private def rollCheckpoint(keep: HistoryEntry => Boolean): Unit = {
    val cp = newestCheckpoint
    val cpMax = cp.map(_._1).getOrElse(-1L)
    val commits = commitHistFiles(cpMax)
    val legacyPresent = fs.exists(legacyHistoryPath)
    if (commits.isEmpty && cp.isEmpty && !legacyPresent) return
    val absorbed = olderHistoryLines(cp).flatMap(parseHistoryLine) ++
      commits.map(f => readWholeFile(f._2)).flatMap(parseHistoryLine)
    val entries = absorbed.filter(keep)
    // the checkpoint covers everything it ABSORBED, filtered or not —
    // its version must dominate every deleted file's version
    val upTo = (cpMax +: commits.map(_._1)).max
    if (upTo < 0) return // nothing but an empty legacy file
    if (!fs.exists(historyDir)) fs.mkdirs(historyDir)
    // writer-unique tmp: concurrent auto-rolls (racing appenders both
    // crossing the checkpoint interval) must not steal each other's
    // temp file; the OVERWRITE rename is last-wins over equivalent
    // content, so either roll is a correct checkpoint
    val tmp = new Path(historyDir,
      f".cp_v$upTo%08d_${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.map(renderHistoryLine).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(historyDir, f"cp_v$upTo%08d.jsonl")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      rootPath.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // now drop what the checkpoint absorbed (incl. stale checkpoints a
    // previous crashed roll left behind)
    commits.foreach(f => fs.delete(f._2, false))
    cp.filter(_._2 != dest).foreach(c => fs.delete(c._2, false))
    if (legacyPresent) fs.delete(legacyHistoryPath, false)
  }

  /** M3: vacuum — drop manifests outside the retention horizon, then GC
    * every data file no retained manifest references. Orphan commit
    * dirs from crashed writes (data, no manifest) are swept too when
    * their commit number is ≤ current — such a number can never commit
    * later (the next write is cur+1), so the files are garbage by
    * construction; an in-flight writer's dir (number > cur) is left
    * alone. History entries of the dropped versions are GC'd too, by
    * rolling the retained entries into a checkpoint — history reads
    * stay bounded by the retention window, not the table's lifetime.
    *
    * `orphanGraceMs` protects CONCURRENT writers: an in-flight append
    * has a data dir but no manifest yet, and once racing winners push
    * `currentVersion` past its number it looks exactly like crash
    * garbage — so unreferenced dirs are swept only when older than the
    * grace (Delta's retention-window rationale). Pass 0 only when no
    * writer can be active. Returns the dropped version numbers. */
  def vacuum(retainVersions: Int = 2,
      orphanGraceMs: Long = 3600000L): Seq[Long] = {
    val cur = currentVersion.getOrElse(return Seq.empty)
    val committed = committedVersions
    vacuumKeeping(committed.filter(v => v == cur ||
      v > cur - retainVersions), orphanGraceMs)
  }

  /** VACUUM DRY RUN (Delta `VACUUM ... DRY RUN`): what [[vacuum]]
    * with the same arguments WOULD remove — (dropped versions,
    * deleted data/DV parquet files as table-relative paths) — without
    * touching a byte. The enumeration mirrors the live pass
    * (manifest-referenced set, DV-dir unit skip, commit-dir mtime
    * grace); VacuumDryRunSpec pins dry-run == actual on the same
    * table so the two can never drift silently. Read-only: safe to
    * run from a monitor on a table with active writers (bloom-sidecar
    * GC, a maintenance nicety, is not part of the report). */
  def vacuumDryRun(retainVersions: Int = 2,
      orphanGraceMs: Long = 3600000L): (Seq[Long], Seq[String]) = {
    val cur = currentVersion.getOrElse(return (Seq.empty, Seq.empty))
    val committed = committedVersions
    val keep = committed.filter(v => v == cur || v > cur - retainVersions)
    val drop = committed.diff(keep)
    val keptManifests = keep.map(readManifest)
    val referenced: Set[String] =
      keptManifests.flatMap(_.entries.map(_.relPath)).toSet
    val referencedDvDirs: Set[String] =
      keptManifests.flatMap(_.entries.flatMap(_.dvDirs)).toSet
    val garbage = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(dataRoot)) {
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      fs.listStatus(dataRoot).foreach { dirStatus =>
        val dir = dirStatus.getPath
        if (commitDirVersion(dir.getName).exists(_ <= cur) &&
            dirStatus.getModificationTime <= cutoff &&
            !referencedDvDirs.contains(relativize(dir))) {
          val it = fs.listFiles(dir, true)
          Iterator.continually(it).takeWhile(_.hasNext)
            .map(_.next().getPath)
            .filter(_.getName.endsWith(".parquet"))
            .filterNot(f => referenced.contains(relativize(f)))
            .foreach(f => garbage += relativize(f))
        }
      }
    }
    (drop, garbage.toSeq.sorted)
  }

  /** TIME-based retention — the reference's operational idiom
    * (`vacuum(retention_hours=h)`, utils/delta_ops.py:65-104; the
    * runbook's "retain 168 hours"): drop every version whose COMMIT
    * TIMESTAMP (checkpointed history) is older than `retentionHours`
    * before `nowMs`, always keeping the current version. Version
    * count ≠ wall time under bursty commit rates — a streaming sink
    * commits thousands of versions a day, so "keep 2 versions" and
    * "keep 7 days" are different promises; this is the one a
    * retention runbook makes. Versions with no readable history line
    * are KEPT (conservative — never GC on missing evidence). `nowMs`
    * is injectable for deterministic tests. */
  def vacuumRetainHours(retentionHours: Double,
      orphanGraceMs: Long = 3600000L,
      nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
    val cur = currentVersion.getOrElse(return Seq.empty)
    val cutoffMs = nowMs - (retentionHours * 3600000.0).toLong
    val tsByVersion: Map[Long, Long] = history(limit = Int.MaxValue)
      .flatMap(h => scala.util.Try(
        h.version -> java.time.Instant.parse(h.timestamp).toEpochMilli)
        .toOption).toMap
    vacuumKeeping(committedVersions.filter(v => v == cur ||
      tsByVersion.get(v).forall(_ >= cutoffMs)), orphanGraceMs)
  }

  /** The shared GC pass under an explicit keep-set: drop the other
    * manifests, roll history, then reclaim every data file, DV
    * sidecar dir, and superseded bloom sidecar no retained manifest
    * references. */
  private def vacuumKeeping(keep: Seq[Long],
      orphanGraceMs: Long): Seq[Long] = {
    val cur = currentVersion.getOrElse(return Seq.empty)
    val committed = committedVersions
    val drop = committed.diff(keep)
    drop.foreach(v => fs.delete(manifestPath(v), false))
    if (drop.nonEmpty) {
      val keepSet = keep.toSet
      rollCheckpoint(e => keepSet.contains(e.version))
    }
    val keptManifests = keep.map(readManifest)
    val referenced: Set[String] =
      keptManifests.flatMap(_.entries.map(_.relPath)).toSet
    // a DV sidecar dir is referenced as a UNIT (entries point at the
    // dir, not its part files) — skip the whole dir if any retained
    // version still masks through it
    val referencedDvDirs: Set[String] =
      keptManifests.flatMap(_.entries.flatMap(_.dvDirs)).toSet
    if (fs.exists(dataRoot)) {
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      fs.listStatus(dataRoot).foreach { dirStatus =>
        val dir = dirStatus.getPath
        if (commitDirVersion(dir.getName).exists(_ <= cur) &&
            dirStatus.getModificationTime <= cutoff &&
            !referencedDvDirs.contains(relativize(dir))) {
          // recursive: partitioned commits nest files under col=value dirs
          val it = fs.listFiles(dir, true)
          val files = Iterator.continually(it).takeWhile(_.hasNext)
            .map(_.next().getPath)
            .filter(_.getName.endsWith(".parquet")).toSeq
          val (kept, garbage) = files.partition(f =>
            referenced.contains(relativize(f)))
          if (kept.isEmpty) fs.delete(dir, true)
          else garbage.foreach(fs.delete(_, false))
        }
      }
    }
    // bloom sidecars: lookups only ever consult the NEWEST sidecar
    // ≤ current per column ([[bloomVersionFor]]) — anything older is
    // dead weight left behind by maintenance refreshes
    val bloomRoot = new Path(root, "_bloom")
    if (fs.exists(bloomRoot)) {
      val vRe = """^v(\d+)$""".r
      val dirs = fs.listStatus(bloomRoot).toSeq.map(_.getPath)
        .flatMap(p => p.getName match {
          case vRe(d) => Some(d.toLong -> p)
          case _ => None
        })
      val newestPerCol: Map[String, Long] = dirs.flatMap { case (d, p) =>
        if (d <= cur) fs.listStatus(p).toSeq
          .map(_.getPath.getName -> d)
        else Seq.empty
      }.groupMapReduce(_._1)(_._2)(_ max _)
      dirs.foreach { case (d, p) =>
        fs.listStatus(p).toSeq.foreach { c =>
          if (newestPerCol.get(c.getPath.getName).exists(_ > d))
            fs.delete(c.getPath, true)
        }
        if (fs.listStatus(p).isEmpty) fs.delete(p, true)
      }
    }
    drop
  }

  // ------------------------------------------------------------ internals

  /** The one place commit data hits parquet. Spark still DEFAULTS
    * timestamp output to INT96 (Hive compat), whose footers carry NO
    * statistics — every timestamp column would be unprunable and
    * timestamp skipping dead on arrival. When the session sits on
    * that default, commits write TIMESTAMP_MICROS instead (the form
    * whose Long stats the manifest scrape records); a session that
    * explicitly chose MILLIS/MICROS is left alone. The commit protocol
    * comes from [[tableWriteOptions]]. */
  private def writeCommitData(df: DataFrame, parts: Seq[String],
      dir: Path): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key, "INT96")
    if (prev == "INT96") spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      val writer = df.write.mode(SaveMode.Overwrite).options(tableWriteOptions)
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .parquet(dir.toString)
    } finally {
      if (prev == "INT96") spark.conf.set(key, prev)
    }
  }

  /** Writer options of every parquet write under the table root (commit
    * data, DV and bloom sidecars). Readers are gated by the MANIFEST,
    * never by directory state, and every attempt dir is writer-unique,
    * so the v1 committer's driver-side rename pass over `_temporary` and
    * its `_SUCCESS` marker buy nothing here: committer v2 renames in the
    * tasks, and a failed attempt's leftovers live in a dir no manifest
    * references. They are writer options, not session settings, because
    * only options reach the write job's Hadoop configuration
    * (`spark.hadoop.*` set at runtime is copied verbatim, prefix and
    * all). */
  private val tableWriteOptions = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** Table-root-relative path. Both sides are qualified through the
    * FileSystem first: listStatus returns scheme-qualified paths
    * (`file:/...`) while a caller-supplied root may be bare, and
    * URI.relativize on mismatched schemes silently returns the input
    * absolute — which would leak absolute paths into manifests. */
  private def relativize(p: Path): String = {
    val rel = fs.makeQualified(rootPath).toUri
      .relativize(fs.makeQualified(p).toUri).getPath
    require(!rel.startsWith("/"), s"$p is not under table root $root")
    rel
  }

  /** New parquet files of a commit dir, with row counts AND per-column
    * numeric min/max read from the parquet FOOTERS — one driver-side
    * metadata read per file, no data scan (the old layout paid a full
    * `count()` job per commit). Stats cover top-level int/long/float/
    * double columns with plain identifier names; everything else skips
    * stats (never skips the file). */
  private def listCommitFiles(dir: Path): Seq[ManifestEntry] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    // recursive: partitioned commits nest files under col=value dirs
    val it = fs.listFiles(dir, true)
    val found = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next()).toSeq
    // Footer reads are independent driver-side IO (~5-20 ms each); a
    // 32-partition commit pays 32 of them, so read them in parallel —
    // this is a fixed slice of EVERY commit's latency. SMALL commits
    // (≤4 files) read sequentially: the parallel-collection
    // fork/join handoff costs more than it saves there.
    import scala.collection.parallel.CollectionConverters._
    val files = found
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
    def overFiles[T](f: org.apache.hadoop.fs.LocatedFileStatus => T)
        : Seq[T] =
      if (files.size <= 4) files.map(f)
      else {
        val p = files.par
        p.tasksupport =
          new scala.collection.parallel.ExecutionContextTaskSupport(
            scala.concurrent.ExecutionContext.global)
        p.map(f).seq.toSeq
      }
    overFiles { s =>
        // local roots read footers via parquet's NIO InputFile — the
        // Hadoop route goes through the checksummed FS (a second read
        // of the CRC sibling per footer) and the FileSystem cache;
        // these are engine-written files whose query-time reads still
        // verify checksums through the normal scan path
        val reader =
          if (fs.getUri.getScheme == "file")
            org.apache.parquet.hadoop.ParquetFileReader.open(
              new org.apache.parquet.io.LocalInputFile(
                java.nio.file.Paths.get(s.getPath.toUri.getPath)))
          else org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, conf))
        val (rows, stats, strStats, nullCounts) = try {
          val mins = scala.collection.mutable.Map[String, Double]()
          val maxs = scala.collection.mutable.Map[String, Double]()
          val sMins = scala.collection.mutable.Map[String, String]()
          val sMaxs = scala.collection.mutable.Map[String, String]()
          val nulls = scala.collection.mutable.Map[String, Long]()
          var statless = Set.empty[String]
          var sStatless = Set.empty[String]
          var nullless = Set.empty[String]
          reader.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { c =>
              val path = c.getPath.toDotString
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                c.getStatistics
              if (path.matches("[A-Za-z0-9_]+")) {
                // NULL COUNTS (any type): the exactness IS NULL /
                // IS NOT NULL skipping proves absence with. One block
                // without the count makes the file's total unknown.
                if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
                  nulls(path) = nulls.getOrElse(path, 0L) + st.getNumNulls
                else nullless += path
                val isString = c.getPrimitiveType.getLogicalTypeAnnotation ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
                // INT64 timestamp stats carry the FILE's unit
                // annotation (MICROS when this engine wrote them,
                // MILLIS when a CONVERT adopted foreign files or the
                // session chose it) while the manifest contract is
                // epoch-MICROS — normalize MILLIS, and record nothing
                // for NANOS (its engine-visible type depends on reader
                // config, so no single unit is sound). A mixed-unit
                // manifest would otherwise prune every file on a
                // micros envelope (stats max << lo) and DML would
                // silently miss matching rows.
                val tsScale: Option[Option[Long]] =
                  c.getPrimitiveType.getLogicalTypeAnnotation match {
                    case t: org.apache.parquet.schema
                        .LogicalTypeAnnotation
                        .TimestampLogicalTypeAnnotation =>
                      t.getUnit match {
                        case org.apache.parquet.schema
                            .LogicalTypeAnnotation.TimeUnit.MICROS =>
                          Some(Some(1L))
                        case org.apache.parquet.schema
                            .LogicalTypeAnnotation.TimeUnit.MILLIS =>
                          Some(Some(1000L))
                        case _ => Some(None) // NANOS
                      }
                    case _ => None
                  }
                // DECIMAL stats are the UNSCALED integers (150 for
                // 1.50): no unit the double-valued ranges compare in
                val isDecimal = c.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation
                    .DecimalLogicalTypeAnnotation]
                val range: Option[(Double, Double)] =
                  if (st == null || !st.hasNonNullValue || isDecimal) None
                  else (st.genericGetMin, st.genericGetMax) match {
                    case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                      Some((mn.toDouble, mx.toDouble))
                    case (mn: java.lang.Long, mx: java.lang.Long) =>
                      tsScale match {
                        case None => Some((mn.toDouble, mx.toDouble))
                        case Some(None) => None
                        case Some(Some(k)) =>
                          try Some((Math.multiplyExact(mn, k).toDouble,
                            Math.multiplyExact(mx, k).toDouble))
                          catch { case _: ArithmeticException => None }
                      }
                    case (mn: java.lang.Float, mx: java.lang.Float) =>
                      Some((mn.toDouble, mx.toDouble))
                    case (mn: java.lang.Double, mx: java.lang.Double) =>
                      Some((mn, mx))
                    case _ => None
                  }
                if (isString) {
                  // UTF8 BINARY min/max, kept only when short and pure
                  // ASCII: parquet orders binaries byte-wise unsigned
                  // and Spark strings byte-wise over UTF-8, which agree
                  // with Java String ordering exactly on ASCII — a
                  // multi-byte value could prune on an ordering the
                  // engine doesn't use. Long values bloat manifests for
                  // columns (free text) nobody range-prunes on.
                  val srange: Option[(String, String)] =
                    if (st == null || !st.hasNonNullValue) None
                    else (st.genericGetMin, st.genericGetMax) match {
                      case (mn: org.apache.parquet.io.api.Binary,
                            mx: org.apache.parquet.io.api.Binary) =>
                        val (a, b) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                        if (a.length <= 64 && b.length <= 64 &&
                            a.forall(_ < 0x80) && b.forall(_ < 0x80))
                          Some((a, b))
                        else None
                      case _ => None
                    }
                  srange match {
                    case Some((mn, mx)) =>
                      sMins(path) = sMins.get(path)
                        .fold(mn)(p => if (p <= mn) p else mn)
                      sMaxs(path) = sMaxs.get(path)
                        .fold(mx)(p => if (p >= mx) p else mx)
                    case None => sStatless += path
                  }
                } else range match {
                  case Some((mn, mx)) if !mn.isNaN && !mx.isNaN =>
                    mins(path) = mins.get(path).fold(mn)(math.min(_, mn))
                    maxs(path) = maxs.get(path).fold(mx)(math.max(_, mx))
                  case _ =>
                    // a stats-less, all-null, or NaN-poisoned row group
                    // makes the whole file's range unknown — recording
                    // a partial range would skip rows, and NaN ranges
                    // fail every >= comparison at prune time, silently
                    // excluding files whose non-NaN rows match
                    statless += path
                }
              }
            }
          }
          val st = (mins.keySet.toSet -- statless).map { k =>
            k -> (mins(k), maxs(k))
          }.toMap
          val sst = (sMins.keySet.toSet -- sStatless).map { k =>
            k -> (sMins(k), sMaxs(k))
          }.toMap
          val nc = (nulls.keySet.toSet -- nullless).map(k =>
            k -> nulls(k)).toMap
          (reader.getRecordCount, st, sst, nc)
        } finally reader.close()
        ManifestEntry(relativize(s.getPath), rows, s.getLen, stats,
          strStats, nullCounts = nullCounts)
      }
  }

  /** The snapshot schema of a manifest; falls back to a first-file
    * footer read for manifests written before schemas were recorded. */
  private def snapshotSchema(m: VersionManifest): StructType = m.schema.getOrElse {
    spark.read.parquet(
      new Path(rootPath, m.entries.head.relPath).toString).schema
  }

  /** The USER-FACING schema: the physical snapshot schema with the
    * column mapping applied (renames + drops). Identity when no
    * mapping is active. */
  private def logicalSchema(m: VersionManifest): StructType = {
    if (m.mapping.isEmpty) return snapshotSchema(m)
    val phys = snapshotSchema(m).fields.map(f => f.name -> f).toMap
    StructType(m.mapping.map { case (l, p) =>
      phys.getOrElse(p, sys.error(
        s"mapping of $root names physical column $p not in schema"))
        .copy(name = l)
    })
  }

  /** Physical frame → logical frame: apply lazy column DEFAULTS
    * (files written before an [[addColumnWithDefault]] lack the
    * column physically and scan as null — the default takes their
    * place HERE, the single read choke point, so the backfill never
    * touches a byte), then rename mapped columns and drop physical
    * columns the mapping omits. Renames/drops are per-column (NOT a
    * projection) so provenance/meta columns (`_metadata`-derived,
    * `_change_type`, …) pass through. Defaults are keyed by PHYSICAL
    * name (frozen), so they survive renames and die with drops. */
  private def logicalize(m: VersionManifest, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr}
    val types = snapshotSchema(m).fields.map(f => f.name -> f.dataType).toMap
    val defaulted = m.defaults.foldLeft(df) { case (d, (c, lit)) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(c, coalesce(col(c), expr(lit).cast(types(c))))
    }
    if (m.mapping.isEmpty) return defaulted
    val kept = m.mapping.map(_._2).toSet
    val dropped = snapshotSchema(m).fields.map(_.name).filterNot(kept)
    val slim =
      if (dropped.isEmpty) defaulted
      else defaulted.drop(dropped.toIndexedSeq: _*)
    m.mapping.foldLeft(slim) { case (d, (l, p)) =>
      if (l == p) d else d.withColumnRenamed(p, l)
    }
  }

  /** Logical frame → physical frame for writing: reverse renames.
    * Dropped physical columns are simply absent from the written files
    * (reads null-fill them under the snapshot schema). */
  private def delogicalize(mapping: Seq[(String, String)],
      df: DataFrame): DataFrame =
    mapping.foldLeft(df) { case (d, (l, p)) =>
      if (l == p) d else d.withColumnRenamed(l, p)
    }

  /** Append compatibility (order-insensitive: parquet reads columns by
    * name). Shared columns must type-match exactly; missing columns are
    * fine (the new files read null-filled under the snapshot schema);
    * NEW columns require `allowSchemaEvolution` and widen the snapshot
    * schema, nullable (pre-evolution files read them as null). The old
    * union-based append enforced compatibility implicitly; with
    * manifests a silent mismatch would corrupt reads, so fail fast. */
  private def reconcileAppendSchema(df: DataFrame, cur: StructType,
      allowEvolution: Boolean, allowWidening: Boolean = false): StructType = {
    val curTypes = cur.fields.map(f => f.name -> f.dataType).toMap
    val widened = scala.collection.mutable.Map.empty[String,
      org.apache.spark.sql.types.DataType]
    df.schema.fields.foreach { f =>
      curTypes.get(f.name) match {
        case Some(t) =>
          if (t == f.dataType) ()
          else if (allowWidening && VersionedTable.widens(t, f.dataType))
            // TYPE WIDENING (Delta type widening): the snapshot schema
            // grows to the wider type; files already written narrow
            // read widened natively by the parquet reader
            widened(f.name) = f.dataType
          else if (allowWidening && VersionedTable.widens(f.dataType, t))
            () // narrower incoming data reads widened under the
          // existing (wider) snapshot schema — nothing to record
          else require(t == f.dataType,
            s"append type mismatch at $root column ${f.name}: " +
              s"table has ${t.catalogString}, append has " +
              s"${f.dataType.catalogString}" + (
              if (VersionedTable.widens(t, f.dataType) ||
                VersionedTable.widens(f.dataType, t))
                "; pass allowTypeWidening=true (int->long, float->double)"
              else ""))
        case None => require(allowEvolution,
          s"append adds column ${f.name} at $root; " +
            "pass allowSchemaEvolution=true to evolve the snapshot schema")
      }
    }
    val added = df.schema.fields
      .filterNot(f => curTypes.contains(f.name)).map(_.copy(nullable = true))
    StructType(cur.fields.map(f =>
      widened.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f))
      ++ added)
  }

  /** Parse a manifest, waiting out a concurrent writer's content fill:
    * the commit protocol makes the file visible the moment its first
    * bytes land, so an empty read, an `#entries=` count that doesn't
    * match, or a mid-line truncation all mean "filler in flight" —
    * retry briefly, then fail (a crashed fill or true corruption). */
  private def readManifest(v: Long): VersionManifest = {
    var attempt = 0
    while (true) {
      scala.util.Try(readManifestOnce(v)) match {
        case scala.util.Success(Some(m)) => return m
        case result =>
          attempt += 1
          if (attempt >= 40) result match {
            case scala.util.Failure(e) => throw e
            case _ => sys.error(s"manifest for version $v of $root is " +
              "empty or truncated (crashed commit fill, or corruption)")
          }
          Thread.sleep(25)
      }
    }
    sys.error("unreachable")
  }

  /** One parse attempt: None = visibly incomplete (retry-worthy). */
  private def readManifestOnce(v: Long): Option[VersionManifest] = {
    val in = fs.open(manifestPath(v))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
    if (text.isEmpty) return None
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val schema = lines.find(_.startsWith("#schema="))
      .map(l => DataType.fromJson(l.stripPrefix("#schema="))
        .asInstanceOf[StructType])
    val partitionBy = lines.find(_.startsWith("#partitionBy="))
      .map(_.stripPrefix("#partitionBy=").split(',').toSeq
        .filter(_.nonEmpty)).getOrElse(Seq.empty)
    val mapping = lines.find(_.startsWith("#mapping="))
      .map(_.stripPrefix("#mapping=").split(',').toSeq
        .filter(_.nonEmpty).map { pair =>
          val i = pair.indexOf('>')
          require(i > 0, s"malformed #mapping pair '$pair' in $root v$v")
          (pair.substring(0, i), pair.substring(i + 1))
        }).getOrElse(Seq.empty)
    val entries = lines.filterNot(_.startsWith("#"))
      .map(ManifestEntry.decodeLine(_, root))
    // completeness: post-r6 manifests declare their entry count; a
    // mismatch is a partially-visible fill (legacy manifests have no
    // header and were rename-published, hence always complete)
    val declared = lines.find(_.startsWith("#entries="))
      .map(_.stripPrefix("#entries=").toInt)
    val generated = lines.find(_.startsWith("#generated="))
      .map(_.stripPrefix("#generated=").split(',').toSeq
        .filter(_.nonEmpty).map { pair =>
          val i = pair.indexOf('>')
          require(i > 0, s"malformed #generated pair '$pair' in $root v$v")
          (pair.substring(0, i), pair.substring(i + 1))
        }).getOrElse(Seq.empty)
    // CHECK constraint exprs are arbitrary SQL (commas, spaces) —
    // base64-coded in the header, names stay plain
    val constraints = lines.find(_.startsWith("#constraints="))
      .map(_.stripPrefix("#constraints=").split(',').toSeq
        .filter(_.nonEmpty).map { pair =>
          val i = pair.indexOf('>')
          require(i > 0, s"malformed #constraints pair '$pair' in $root v$v")
          (pair.substring(0, i), new String(java.util.Base64.getDecoder
            .decode(pair.substring(i + 1)), StandardCharsets.UTF_8))
        }).getOrElse(Seq.empty)
    val rowIdHw = lines.find(_.startsWith("#rowIdHw="))
      .map(_.stripPrefix("#rowIdHw=").toLong)
    val identity = lines.find(_.startsWith("#identity="))
      .map { l =>
        val a = l.stripPrefix("#identity=").split('>')
        require(a.length == 3, s"malformed #identity header in $root v$v")
        (a(0), a(1).toLong, a(2).toLong)
      }
    val defaults = lines.find(_.startsWith("#defaults="))
      .map(_.stripPrefix("#defaults=").split(',').toSeq
        .filter(_.nonEmpty).map { pair =>
          val i = pair.indexOf('>')
          require(i > 0, s"malformed #defaults pair '$pair' in $root v$v")
          (pair.substring(0, i), new String(java.util.Base64.getDecoder
            .decode(pair.substring(i + 1)), StandardCharsets.UTF_8))
        }).getOrElse(Seq.empty)
    // reader-protocol gate: refuse manifests demanding features this
    // reader does not implement — silence here would be wrong data
    lines.find(_.startsWith("#requires=")).foreach { l =>
      val demanded = l.stripPrefix("#requires=").split(',').toSeq
        .filter(_.nonEmpty)
      val unknown = demanded.filterNot(VersionManifest.ReaderFeatures)
      require(unknown.isEmpty,
        s"manifest v$v of $root requires reader feature(s) " +
          s"${unknown.mkString(", ")} this library version does not " +
          "implement — upgrade before reading (a silent read would " +
          "return wrong data)")
    }
    if (declared.exists(_ != entries.size)) None
    else Some(VersionManifest(schema, entries, partitionBy, mapping,
      generated, constraints, rowIdHw, identity, defaults))
  }

  /** Commit a manifest: atomic CLAIM of the destination name, then
    * fill it with content.
    *
    * Why not tmp+rename: POSIX rename OVERWRITES an existing
    * destination (Hadoop's RawLocalFileSystem inherits that), so of
    * two racing writers the LATER rename would silently destroy the
    * earlier commit — rename cannot arbitrate. The only portable
    * atomic arbiter is exclusive CREATE: NIO `createFile` (O_EXCL) on
    * the local scheme, `create(dest, overwrite=false)` elsewhere
    * (atomic at the HDFS namenode / object-store PUT-if-absent).
    * Exactly one claimant wins; losers get [[VersionConflictException]]
    * (appends auto-rebase in [[commitWithRebase]]).
    *
    * The claim is a zero-byte file, invisible to [[committedVersions]]
    * (which requires length > 0), so the commit POINT is the content
    * fill becoming non-empty; readers that catch the fill mid-flight
    * see an `#entries=` count that doesn't match and retry
    * ([[readManifest]]). A writer that dies after claiming leaves an
    * empty manifest that never commits — a later claimant older than
    * [[VersionedTable.claimGraceMs]] reclaims it. */
  private def writeManifest(v: Long, m: VersionManifest): Unit = {
    if (!fs.exists(manifestsRoot)) fs.mkdirs(manifestsRoot)
    val header = s"#entries=${m.entries.size}\n" +
      m.schema.map(s => s"#schema=${s.json}\n").getOrElse("") +
      (if (m.partitionBy.nonEmpty)
        s"#partitionBy=${m.partitionBy.mkString(",")}\n" else "") +
      (if (m.mapping.nonEmpty)
        s"#mapping=${m.mapping.map { case (l, p) => s"$l>$p" }
          .mkString(",")}\n" else "") +
      (if (m.generated.nonEmpty)
        s"#generated=${m.generated.map { case (c, g) => s"$c>$g" }
          .mkString(",")}\n" else "") +
      (if (m.constraints.nonEmpty)
        s"#constraints=${m.constraints.map { case (n, e) =>
          s"$n>${java.util.Base64.getEncoder.encodeToString(
            e.getBytes(StandardCharsets.UTF_8))}" }.mkString(",")}\n"
      else "") +
      m.rowIdHw.map(h => s"#rowIdHw=$h\n").getOrElse("") +
      m.identity.map { case (c, s, st) => s"#identity=$c>$s>$st\n" }
        .getOrElse("") +
      // default SQL literals are arbitrary SQL — base64 like constraints
      (if (m.defaults.nonEmpty)
        s"#defaults=${m.defaults.map { case (c, e) =>
          s"$c>${java.util.Base64.getEncoder.encodeToString(
            e.getBytes(StandardCharsets.UTF_8))}" }.mkString(",")}\n"
      else "") +
      // READER PROTOCOL (Delta's readerVersion idea): list the
      // features a reader MUST understand to produce correct results
      // from this manifest, so a GATE-AWARE reader meeting a future
      // feature it lacks fails loudly instead of silently returning
      // wrong data. The guarantee is FORWARD-ONLY: library versions
      // predating the gate itself have no check, ignore unknown #
      // headers, and would misread (a pre-defaults reader sees nulls
      // where the backfill belongs) — protecting those retroactively
      // would take a format break, the larger harm. Only
      // read-semantic features gate; layout-only headers don't.
      {
        val required =
          (if (m.defaults.nonEmpty)
            Seq(VersionManifest.FeatureDefaults) else Nil) ++
          // a multi-link DV chain read as a single dir path would fail
          // nonsensically in a pre-chain reader; gate it by name
          (if (m.entries.exists(_.dvDir.exists(_.contains(','))))
            Seq(VersionManifest.FeatureDvChain) else Nil)
        if (required.nonEmpty) s"#requires=${required.mkString(",")}\n"
        else ""
      }
    val body = header + m.entries.map(ManifestEntry.encodeLine).mkString("\n")
    val dest = manifestPath(v)
    claimManifest(dest, v)
    val out = fs.create(dest, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomically claim `dest` for this writer or throw
    * [[VersionConflictException]]. An existing EMPTY manifest older
    * than the grace is a crashed claim — reclaimed; a young one is an
    * in-flight commit — conflict (the rebase loop re-reads after the
    * filler finishes). */
  private def claimManifest(dest: Path, v: Long): Unit = {
    def conflict(reason: String) = throw VersionConflictException(
      s"concurrent write conflict at $root: version $v $reason; " +
        "re-read and retry")
    val existing =
      try Some(fs.getFileStatus(dest))
      catch { case _: java.io.FileNotFoundException => None }
    existing.foreach { st =>
      if (st.getLen == 0 && st.getModificationTime <
          System.currentTimeMillis() - VersionedTable.claimGraceMs)
        fs.delete(dest, false) // crashed claim: writer died pre-fill
      else if (st.getLen == 0) conflict("is being committed by another writer")
      else conflict("was committed by another writer")
    }
    val claimed =
      if (fs.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(dest.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try { fs.create(dest, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException
              if Option(e.getMessage).exists(_.contains("exist")) => false
        }
      }
    if (!claimed) conflict("was claimed by another writer")
  }

  private def pointTo(v: Long): Unit = {
    // writer-unique tmp: racing committers must not steal each other's
    // temp file; the OVERWRITE rename is last-wins on a purely
    // advisory pointer (currentVersion never consults it)
    val tmp = new Path(root,
      s"_latest.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      // Atomic swap: write tmp, rename with OVERWRITE — no
      // delete-then-rename window in which a crash leaves no `_latest`
      // (currentVersion additionally recovers from the manifests if a
      // table lost its pointer). Local roots do both steps via
      // java.nio: the FileContext route stats the destination through
      // `getFileLinkStatus`, which FORKS `readlink`+`stat` per call
      // without libhadoop — two process spawns per commit, on every
      // committing query (driver stack sampling, round 18) — and the
      // checksummed fs.create would leave an orphaned `.crc` sibling
      // behind the raw rename anyway. A `._latest.crc` left by an
      // earlier checksummed write no longer matches the new bytes, so
      // a checksummed read of the pointer would fail: delete it.
      if (fs.getUri.getScheme == "file") {
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        val latestNio = java.nio.file.Paths.get(latestPath.toUri.getPath)
        java.nio.file.Files.write(tmpNio,
          v.toString.getBytes(StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmpNio, latestNio,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.deleteIfExists(
          latestNio.resolveSibling("._latest.crc"))
      } else {
        val out = fs.create(tmp, true)
        try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          rootPath.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, latestPath,
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    } catch {
      // BEST EFFORT: concurrent committers can trip over the pointer's
      // checksum sidecar (ChecksumFs renames the .crc non-atomically).
      // The pointer exists for humans; no read path consults it, so a
      // lost update must never fail a commit that already happened.
      case scala.util.control.NonFatal(_) =>
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** One immutable file per commit: appending to a single JSONL would
    * read+rewrite the whole history every commit (O(n²) over the table's
    * lifetime — local filesystems have no append). The VERSION prefix
    * keeps commit order under name sorting: versions are never reused
    * (RESTORE allocates a fresh one), whereas a wall/monotonic-clock
    * prefix would reorder across reboots or hosts — and history order
    * feeds the streaming sink's idempotence check, where a misorder
    * means replayed batches append twice. nanoTime suffix is
    * uniqueness paranoia only. */
  private def appendHistory(v: Long, op: String, rows: Long): Unit = {
    // IN-COMMIT TIMESTAMP MONOTONICITY (Delta's in-commit-timestamps
    // contract): commit times drive every timestamp resolution
    // (timestampAsOf, startingTimestamp, timestamp-range CDF, time
    // vacuum), and wall clocks step BACKWARD (NTP corrections, VM
    // migrations). A later version carrying an earlier instant would
    // make "the first version at or after t" ambiguous — so a commit
    // whose clock reads at-or-before its predecessor's recorded time
    // is stamped predecessor + 1ms instead. One newest-history read
    // per commit; readers stay hardened regardless (filter, not
    // prefix scans).
    val prev =
      if (v == 0) None
      else scala.util.Try(history(limit = 1).headOption
        .map(h => java.time.Instant.parse(h.timestamp)))
        .toOption.flatten
    val ts = VersionedTable
      .monotoneCommitTime(prev, java.time.Instant.now()).toString
    val line = renderHistoryLine(HistoryEntry(v, ts, op, rows))
    val f = new Path(historyDir, f"v$v%08d_${System.nanoTime()}%020d.json")
    val out = fs.create(f, false)
    try out.write(line.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // amortized-O(1) maintenance: every N commits, fold the per-commit
    // files into the checkpoint so reads stay bounded on long-lived
    // tables (streaming sinks commit a version per micro-batch).
    // BEST EFFORT: the commit already happened — background
    // maintenance racing another writer's roll must never turn a
    // successful write into an error (the next interval retries).
    if (v > 0 && v % VersionedTable.historyCheckpointInterval == 0)
      try checkpointHistory()
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private def renderHistoryLine(e: HistoryEntry): String = {
    // operation strings may embed user text (a SQL WHERE clause's
    // literals) — a quote or newline would corrupt the one-line JSON
    // and make the commit vanish from history (timestamp travel then
    // resolves PAST it); sanitize and bound rather than escape, since
    // the parse regex forbids quotes by design
    val op = e.operation.replaceAll("[\"\\r\\n]", "'").take(400)
    s"""{"version": ${e.version}, "timestamp": "${e.timestamp}", """ +
      s""""operation": "$op", "numRows": ${e.numRows}}"""
  }
}

object VersionedTable {
  /** Commits between automatic history-checkpoint rolls. */
  val historyCheckpointInterval: Int = 128

  /** The instant a commit records: the wall clock, clamped FORWARD to
    * strictly after the previous commit's recorded time (predecessor
    * + 1ms on a tie or step-back). Pure so the clamp itself is
    * unit-testable without controlling a clock. */
  def monotoneCommitTime(prev: Option[java.time.Instant],
      now: java.time.Instant): java.time.Instant =
    prev.filter(p => !now.isAfter(p)).map(_.plusMillis(1)).getOrElse(now)

  /** TYPE WIDENING lattice (Delta type widening): `from` data is read
    * correctly under a `to` snapshot schema by Spark's parquet reader
    * with no rewrite — exactly the pairs verified against the
    * vectorized reader (int32→int64 upcast, float→double upcast).
    * Widening is strictly one-way: the reverse would truncate. */
  private[io] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{IntegerType, LongType,
      FloatType, DoubleType}
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** One conjunct of a [[VersionedTable.readMatching]] read (and of a
    * [[VersionedTable.pruningReport]]), combinable in ONE call and one
    * manifest pass: `readMatching(PartitionEq("dt", "2024-01-01"),
    * TsRange("ts", lo, hi))` prunes on the partition value AND the
    * timestamp stats before any file is opened. Each is a row filter,
    * [[condition]]; the files a read plans are those
    * [[VersionedTable.predicateMayMatch]] admits for the conjunction,
    * so values compare as Spark compares them (cast to the column's
    * type) and a file the manifest knows nothing about is read. */
  sealed trait TablePredicate {
    /** The row filter this predicate stands for. */
    def condition: org.apache.spark.sql.Column
  }
  /** `column = value`, the value spelled the way a partition path
    * spells it (`dt=2024-01-01` is `PartitionEq("dt", "2024-01-01")`)
    * and cast to the column's type, so `"03"` finds an int partition
    * `3`. On a partition column a file prunes on its partition value
    * (every row's value); on any other column on its stats. Files
    * with a null, non-ASCII string or undecodable partition value are
    * read. */
  final case class PartitionEq(column: String, value: String)
      extends TablePredicate {
    def condition: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(column) ===
        org.apache.spark.sql.functions.lit(value)
  }
  /** Numeric `column` ∈ [lo, hi] over the recorded min/max stats or
    * the partition value; ranges on several columns compound the
    * skipping (a file in the right id range but the wrong timestamp
    * range is pruned). Files without stats for the column (all-null,
    * decimal, pre-stats manifests) are read, and so is every file
    * when a bound lies beyond 2^53. A point range on a `bucket<n>`
    * or a range on a `trunc<w>` generator's source also prunes the
    * generated partitions. */
  final case class NumRange(column: String, lo: Double, hi: Double)
      extends TablePredicate {
    def condition: org.apache.spark.sql.Column = {
      val c = org.apache.spark.sql.functions.col(column)
      c >= lo && c <= hi
    }
  }
  /** Timestamp `column` ∈ [loIso, hiIso] — the watermark read ("rows
    * since my last high-water mark") with no manual unit conversion:
    * bounds are ISO-8601 instants, stats compare in epoch micros (the
    * unit parquet stores), partition values decode as timestamps in
    * the session time zone. A range on a `day`/`hour`/`month`/`year`
    * generator's source also prunes the generated partitions. */
  final case class TsRange(column: String, loIso: String, hiIso: String)
      extends TablePredicate {
    def condition: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, lit}
      def at(iso: String) =
        lit(java.sql.Timestamp.from(java.time.Instant.parse(iso)))
      col(column) >= at(loIso) && col(column) <= at(hiIso)
    }
  }
  /** Date `column` ∈ [lo, hi], bounds `yyyy-MM-dd`: stats compare in
    * epoch days (parquet's date unit), `dt=yyyy-MM-dd` partition
    * values decode as dates. */
  final case class DateRange(column: String, lo: String, hi: String)
      extends TablePredicate {
    def condition: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, lit}
      def at(d: String) =
        lit(java.sql.Date.valueOf(java.time.LocalDate.parse(d)))
      col(column) >= at(lo) && col(column) <= at(hi)
    }
  }
  /** `column` ∈ [lo, hi] with string bounds. On a string column it
    * prunes on the short pure-ASCII min/max stats and ASCII partition
    * values (the encoding where parquet's, Spark's and Java's string
    * orders agree: `yyyy-MM-dd` strings, zero-padded ids, status
    * codes); long or non-ASCII values are read. On a date or
    * timestamp column the bounds cast to its type, as the row filter
    * does; on a numeric column they never prune. */
  final case class StrRange(column: String, lo: String, hi: String)
      extends TablePredicate {
    def condition: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, lit}
      col(column) >= lit(lo) && col(column) <= lit(hi)
    }
  }

  /** A history operation that moves bytes, never rows: OPTIMIZE
    * (OPTIMIZE WHERE included) or REORG PURGE. */
  private[io] def layoutOp(op: String): Boolean =
    op.startsWith("OPTIMIZE") || op == "REORG PURGE"

  /** Are the files commit `op` removed whole-file DEATHS (every prior
    * live row deleted)? True for DV DML — every DV delete, update and
    * merge records a `DELETE DV` / `UPDATE DV` / `MERGE DV` operation,
    * and a DV commit drops only fully-masked files — and for a DELETE
    * or TRUNCATE that added no files (a delete that kept survivors
    * would have rewritten them into new ones). */
  private[io] def deathsOnly(op: String, addedFiles: Boolean): Boolean =
    op.startsWith("DELETE DV") || op.startsWith("UPDATE DV") ||
      op.startsWith("MERGE DV") ||
      (!addedFiles && (op == "TRUNCATE" || op.toUpperCase.startsWith("DELETE")))

  /** What a data stream ([[VersionedTable.streamBatch]]) does with a
    * commit that changed existing rows — removed files or extended
    * deletion masks. Delta's streaming-source options. */
  sealed trait ChangePolicy
  object ChangePolicy {
    /** Fail loudly: a data stream needs append-only commits. */
    case object Fail extends ChangePolicy
    /** `ignoreChanges`: stream the range's added files; rewritten rows
      * arrive again (at-least-once). */
    case object IgnoreChanges extends ChangePolicy
    /** `ignoreDeletes`: admit a commit that only removed files or only
      * extended masks, without rows — no row is lost. A rewrite that
      * also added files still fails: streaming its adds would double
      * the rewritten rows. */
    case object IgnoreDeletes extends ChangePolicy
    /** `skipChangeCommits`: skip every commit that changed existing
      * rows, its added files too — the stream is new data only. */
    case object SkipChangeCommits extends ChangePolicy
  }

  /** The file-level change between two manifests: files only in `to`
    * (added), files only in `from` (removed), and files in both whose
    * deletion mask changed (re-masked, as (from, to) entry pairs). */
  private[io] final class FileDelta(val from: VersionManifest,
      val to: VersionManifest) {
    private val fromByPath = from.entries.map(e => e.relPath -> e).toMap
    private val toPaths = to.entries.map(_.relPath).toSet
    val added: Seq[ManifestEntry] =
      to.entries.filterNot(e => fromByPath.contains(e.relPath))
    val removed: Seq[ManifestEntry] =
      from.entries.filterNot(e => toPaths.contains(e.relPath))
    val remasked: Seq[(ManifestEntry, ManifestEntry)] =
      to.entries.flatMap(e => fromByPath.get(e.relPath)
        .filter(o => o.dvDir != e.dvDir || o.dvRows != e.dvRows)
        .map(_ -> e))
    def appendOnly: Boolean = removed.isEmpty && remasked.isEmpty
    /** A re-masked file whose mask LOST rows: a RESTORE resurrected
      * them. */
    def maskShrunk: Option[ManifestEntry] =
      remasked.collectFirst { case (o, e) if e.dvRows < o.dvRows => e }
  }

  /** [[VersionedTable.pruningReport]]'s answer: planned vs total scan
    * economics of a predicated read, straight from the manifest. */
  final case class PruningReport(plannedFiles: Int, totalFiles: Int,
      plannedBytes: Long, totalBytes: Long,
      plannedRows: Long, totalRows: Long) {
    /** Fraction of snapshot bytes the read plans (1.0 = no pruning). */
    def byteFraction: Double =
      if (totalBytes == 0L) 0.0 else plannedBytes.toDouble / totalBytes
  }

  /** Age beyond which a zero-byte manifest counts as a CRASHED claim
    * (reclaimable) rather than an in-flight commit. Far above any real
    * claim→fill gap (microseconds); low enough that a crashed writer
    * doesn't wedge its version number for long. */
  val claimGraceMs: Long = 600000L

  /** Executor-side bloom probe: does the serialized per-file bloom
    * claim ANY of the probe hashes? Lives in the companion so the
    * planning task closure captures no table state — and so
    * [[VersionedTable.bloomPlannedEntries]] provably never
    * deserializes a bloom on the driver (BloomIndexSpec pins its body
    * lexically: no `readFrom` outside this helper). */
  private[io] def bloomMightContainAny(bytes: Array[Byte],
      hs: Array[Long]): Boolean = {
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    hs.exists(bf.mightContainLong)
  }
}

final case class HistoryEntry(
    version: Long, timestamp: String, operation: String, numRows: Long)

/** Lost the manifest-rename commit race. Appends (and partition-safe
  * replaceWheres) auto-rebase and retry; overwrites propagate it. */
/** A write carried rows failing an active CHECK constraint; nothing
  * was committed. */
final case class ConstraintViolationException(message: String)
    extends RuntimeException(message)

final case class VersionConflictException(message: String)
    extends RuntimeException(message)

/** One manifest line: a parquet file (path relative to the table
  * root), its footer row count, its size in bytes, per-column
  * [min, max] ranges for top-level numeric columns, and [min, max]
  * string ranges for short-ASCII string columns (all collected from
  * the same footer read that yields the row count — free at commit
  * time, and the basis for manifest-level file skipping at read
  * time). Date and timestamp columns land in the NUMERIC `stats` as
  * epoch-days / epoch-micros, the unit parquet physically stores —
  * file skipping ([[VersionedTable.predicateMayMatch]]) does the unit
  * conversion so callers never touch ordinals. */
final case class ManifestEntry(relPath: String, rows: Long, bytes: Long,
    stats: Map[String, (Double, Double)] = Map.empty,
    strStats: Map[String, (String, String)] = Map.empty,
    dvDir: Option[String] = None, dvRows: Long = 0L,
    baseRowId: Option[Long] = None,
    nullCounts: Map[String, Long] = Map.empty) {

  /** Rows a read of this file yields: physical rows minus the rows its
    * deletion vector masks. */
  def liveRows: Long = rows - dvRows

  /** The deletion-vector sidecar CHAIN: `dvDir` holds one or more
    * PER-COMMIT delta dirs joined by ',' (oldest first — commit dir
    * names are `c<v>_<hex>`, never containing ','). Each DV commit
    * masks only the rows IT retires and appends one link, so DV DML
    * writes O(that commit's changed rows) unconditionally — never the
    * file's accumulated mask. Deltas are disjoint by construction
    * (each commit masks live rows of a scan that already applied the
    * existing chain), so the full mask is the plain union of the
    * links; OPTIMIZE / REORG PURGE / clone collapse chains. */
  def dvDirs: Seq[String] =
    dvDir.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** The file's partition values (Delta's per-file partitionValues),
    * DERIVED from the hive-style `col=value` segments of its path
    * rather than stored — the path already encodes them exactly, so
    * the manifest format is unchanged and pre-partitioning manifests
    * gain pruning retroactively. Hive `%XX` escaping is decoded;
    * a `__HIVE_DEFAULT_PARTITION__` (null) value is OMITTED from the
    * map, so pruning's `.get` miss conservatively reads the file. */
  lazy val partitionValues: Map[String, String] =
    relPath.split('/').dropRight(1).iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val raw = seg.substring(i + 1)
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else Some(ManifestEntry.unescapePathName(seg.substring(0, i)) ->
          ManifestEntry.unescapePathName(raw))
      }
    }.toMap
}

object ManifestEntry {

  /** The manifest LINE codec — the on-disk contract (round-trip
    * property-tested in ManifestCodecPropertySpec). Tab-separated:
    * `relPath \t rows \t bytes \t stats \t strStats`, where stats is
    * `k:min:max` comma-joined (doubles via toString/toDouble — an
    * exact round-trip in Java) and strStats base64-wraps both bounds
    * (values may contain the format's own separators or newlines;
    * split limit -1 keeps the empty-string bound's trailing field).
    * Constraints the writers uphold: relPath has no tab/newline (it
    * is a real file path Spark wrote), stat keys match
    * `[A-Za-z0-9_]+` (enforced at footer-scrape time — a `:`/`,` in
    * a key would corrupt the field). Fields 6 and 7 are the deletion
    * vector: masked-row count and the sidecar dir (a commit dir this
    * table allocated itself — plain `c<v>_<uid>` names, never
    * user-controlled, so raw encoding is safe). Field 8 is the file's
    * base row id (row tracking; empty = unassigned). Field 9 is the
    * per-column NULL counts (`k:n` comma-joined — what IS NULL /
    * IS NOT NULL data skipping proves absence with). Decode accepts
    * 3–9 fields: trailing empty fields vanish under split, and older
    * manifest generations wrote fewer (r15: no null counts; r10: no
    * base row id; r6: no DV; r4: no string stats; r3: no stats). */
  private[graft] def encodeLine(e: ManifestEntry): String = {
    val st = e.stats.toSeq.sortBy(_._1)
      .map { case (k, (mn, mx)) => s"$k:$mn:$mx" }.mkString(",")
    val ss = e.strStats.toSeq.sortBy(_._1).map { case (k, (mn, mx)) =>
      def enc(s: String) = java.util.Base64.getEncoder
        .encodeToString(s.getBytes(StandardCharsets.UTF_8))
      s"$k:${enc(mn)}:${enc(mx)}"
    }.mkString(",")
    val nc = e.nullCounts.toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k:$n" }.mkString(",")
    s"${e.relPath}\t${e.rows}\t${e.bytes}\t$st\t$ss" +
      s"\t${e.dvRows}\t${e.dvDir.getOrElse("")}" +
      s"\t${e.baseRowId.map(_.toString).getOrElse("")}" +
      s"\t$nc"
  }

  private[graft] def decodeLine(line: String, table: String = "?"): ManifestEntry = {
    def parseStats(st: String): Map[String, (Double, Double)] =
      st.split(',').filter(_.nonEmpty).map { kv =>
        val Array(k, mn, mx) = kv.split(':')
        k -> (mn.toDouble, mx.toDouble)
      }.toMap
    def parseStrStats(ss: String): Map[String, (String, String)] =
      ss.split(',').filter(_.nonEmpty).map { kv =>
        val Array(k, mn, mx) = kv.split(":", -1)
        def dec(s: String) = new String(
          java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
        k -> (dec(mn), dec(mx))
      }.toMap
    line.split('\t') match {
      case Array(p, r, b) => ManifestEntry(p, r.toLong, b.toLong)
      case Array(p, r, b, st) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st))
      case Array(p, r, b, st, ss) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st), parseStrStats(ss))
      case Array(p, r, b, st, ss, dvr) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st),
          parseStrStats(ss), None, dvr.toLong)
      case Array(p, r, b, st, ss, dvr, dvd) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st),
          parseStrStats(ss), Some(dvd).filter(_.nonEmpty), dvr.toLong)
      case Array(p, r, b, st, ss, dvr, dvd, rid) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st),
          parseStrStats(ss), Some(dvd).filter(_.nonEmpty), dvr.toLong,
          Some(rid).filter(_.nonEmpty).map(_.toLong))
      case Array(p, r, b, st, ss, dvr, dvd, rid, nc) =>
        ManifestEntry(p, r.toLong, b.toLong, parseStats(st),
          parseStrStats(ss), Some(dvd).filter(_.nonEmpty), dvr.toLong,
          Some(rid).filter(_.nonEmpty).map(_.toLong),
          nc.split(',').filter(_.nonEmpty).map { kv =>
            val Array(k, n) = kv.split(':'); k -> n.toLong
          }.toMap)
      case other => sys.error(
        s"malformed manifest line at $table: '${other.mkString("\\t")}'")
    }
  }

  /** Inverse of Hive/Spark partition-path escaping (`%2F` → `/` …);
    * malformed escapes pass through verbatim, matching Hive. */
  private[graft] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val code = if (c == '%' && i + 2 < s.length)
        try Integer.parseInt(s.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
      else -1
      if (code >= 0) { sb.append(code.toChar); i += 3 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** A version: its snapshot schema, its file list, and the table's
  * partition columns as of that version (Delta partitionColumns; the
  * `#partitionBy=` manifest header). The schema is stored IN the
  * manifest (`#schema=` header), so reads plan against the recorded
  * snapshot schema instead of inferring from file footers — O(1)
  * instead of O(files) at planning time — and schema-evolved
  * snapshots read older files with the missing columns filled null
  * (parquet name-based resolution). */
/** `mapping` is the COLUMN MAPPING (Delta column-mapping semantics):
  * ordered (logicalName, physicalName) pairs. Empty = identity (the
  * stored schema IS the user-facing schema). When non-empty, parquet
  * files and the stored `schema` keep their original PHYSICAL names
  * forever (rename/drop never rewrite a byte of data); reads project
  * physical → logical, writes project back. A physical column absent
  * from the mapping is DROPPED: invisible to reads, null-filled files
  * remain untouched. */
/** `generated` records GENERATED partition columns (Delta
  * `GENERATED ALWAYS AS` pruning semantics): (partitionCol,
  * generatorExpr) pairs, generator grammar currently `day(<srcCol>)`
  * — the UTC calendar day of a timestamp column. A range predicate
  * on the SOURCE column then prunes the derived partitions directly
  * (see `readMatching`). */
final case class VersionManifest(schema: Option[StructType],
    entries: Seq[ManifestEntry],
    partitionBy: Seq[String] = Seq.empty,
    mapping: Seq[(String, String)] = Seq.empty,
    generated: Seq[(String, String)] = Seq.empty,
    constraints: Seq[(String, String)] = Seq.empty,
    rowIdHw: Option[Long] = None,
    identity: Option[(String, Long, Long)] = None,
    defaults: Seq[(String, String)] = Seq.empty)

object VersionManifest {
  /** Reader-protocol feature tokens (Delta readerVersion semantics):
    * a manifest whose `#requires=` header names a token outside this
    * set fails loudly at read — read-semantic features a reader
    * silently ignored would return WRONG data (a pre-defaults reader
    * would see nulls where the lazy backfill belongs). The protection
    * is FORWARD-ONLY: it covers gate-aware readers meeting features
    * added after their build, not library versions predating the gate
    * itself (those ignore unknown `#` headers entirely). Tokens are
    * written ONLY while the feature is actively in use, so tables not
    * using a feature stay readable by older library versions. */
  val FeatureDefaults = "column-defaults"
  /** Per-commit deletion-vector delta CHAINS: `dvDir` may hold several
    * ','-joined sidecar dirs whose union is the file's mask. */
  val FeatureDvChain = "dv-chain"
  val ReaderFeatures: Set[String] = Set(FeatureDefaults, FeatureDvChain)
}
