package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming source over a [[graft.io.VersionedTable]] —
  * the Delta streaming-source equivalent (reference: `readStream
  * .format("delta")`): OFFSETS ARE VERSIONS, so each committed version
  * becomes (at most) one micro-batch, planned straight from the
  * manifests with zero directory listing. The initial batch is the
  * full snapshot at the then-current version; every later batch is
  * exactly the files its version range ADDED. Offsets checkpoint as
  * plain version numbers, so a restarted query resumes from the next
  * uncommitted version — exactly-once per version together with an
  * idempotent sink.
  *
  * Non-append commits (overwrite / compaction / DELETE) remove files;
  * file identity no longer maps to row identity, so the source fails
  * loudly unless `ignoreChanges=true` (stream only the added files —
  * Delta's option of the same name, same at-least-once caveat).
  *
  * Retention interplay: [[graft.io.VersionedTable.vacuum]] must retain
  * at least as many versions as the stream can lag, or getBatch will
  * find its `from` manifest gone.
  *
  * Lives in the bridge package because the V1 `Source` trait and
  * `LongOffset` are `private[sql]`-adjacent internals — the same
  * doorway [[ManifestScan]] uses; the V1 API is the right fit here
  * because getBatch can return a manifest-planned DataFrame directly
  * (a DSv2 MicroBatchStream would re-implement parquet reading).
  */
final class VersionedStreamSource(spark: SparkSession, path: String,
    ignoreChanges: Boolean, changeFeed: Boolean = false,
    changeFeedMeta: Boolean = false,
    ignoreDeletes: Boolean = false,
    skipChangeCommits: Boolean = false,
    maxVersionsPerBatch: Option[Long] = None,
    startingVersion: Option[Long] = None,
    startingTimestamp: Option[String] = None,
    maxFilesPerBatch: Option[Long] = None,
    endingVersion: Option[Long] = None,
    endingTimestamp: Option[String] = None)
  extends Source with SupportsAdmissionControl {

  startingVersion.foreach(v => require(v >= 1,
    "startingVersion must be >= 1 (omit it to start from the snapshot)"))
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive")
  endingVersion.foreach(v => require(v >= 0,
    "endingVersion must be >= 0"))
  require(endingVersion.isEmpty || endingTimestamp.isEmpty,
    "endingVersion and endingTimestamp are mutually exclusive")
  for (s <- startingVersion; e <- endingVersion) require(e >= s,
    s"endingVersion $e is below startingVersion $s — an empty window")

  private val vt = new graft.io.VersionedTable(spark, path)

  /** BOUNDED REPLAY (Delta CDF `endingVersion`/`endingTimestamp`): the
    * stream never plans past this version — under
    * `Trigger.AvailableNow` it drains to the bound and terminates,
    * the "replay a closed window through the streaming pipeline"
    * shape. `endingTimestamp` re-resolves as commits land (the bound
    * is the newest version committed at or before the instant — a
    * pure function of committed history, restart-stable by M33
    * in-commit-timestamp monotonicity; an instant still ahead of the
    * newest commit keeps admitting commits as they land at or before
    * it, which IS "changes up to ts") — but MEMOIZED per table
    * version, so the history walk runs once per new commit, not
    * twice per poll. A timestamp BEFORE the first commit resolves to
    * an empty window: the stream admits nothing (Some(-1) bound)
    * instead of crashing at poll time with a time-travel error. A
    * bound below the stream's current position admits nothing more
    * (graceful stop, never a backwards batch). */
  private var endTsMemo: Option[(Long, Long)] = None // (atVersion, bound)
  private def endBound: Option[Long] =
    endingVersion.orElse(endingTimestamp.map { ts =>
      val cur = vt.currentVersion.getOrElse(-1L)
      endTsMemo match {
        case Some((at, b)) if at == cur => b
        case _ =>
          val b = vt.versionAt(ts).getOrElse(-1L) // -1 = none yet
          endTsMemo = Some((cur, b))
          b
      }
    })

  /** The version subscription actually starts at. `startingTimestamp`
    * (Delta's option: "every change committed at or after this
    * instant, inclusive") resolves ONCE, at first poll, through the
    * commit history: the first version at or after the instant. An
    * instant AHEAD of the newest commit fails loudly — Delta's
    * contract, and the only restart-stable one: any "wait for the
    * next commit" fallback resolves to a different version on every
    * restart, and the engine REPLAYS the previously planned batch
    * from the offset log, so an unstable resolution corrupts the
    * replayed range. An instant at or before the CREATING commit
    * resolves to `None` = the plain snapshot-first behavior, which is
    * the same rows ("everything from the beginning") without a
    * degenerate diff-against-nothing batch. */
  private lazy val effectiveStartingVersion: Option[Long] =
    startingVersion.orElse(startingTimestamp.flatMap { ts =>
      val v = vt.versionAt(ts, forward = true).getOrElse(sys.error(
        s"startingTimestamp $ts is after the newest commit of $path — " +
          "nothing to subscribe to yet; resolution must be " +
          "restart-stable, so commit first or use startingVersion"))
      if (v == 0) None else Some(v)
    })

  require(!changeFeedMeta || changeFeed,
    "changeFeedMeta requires readChangeFeed=true")
  require(!(ignoreChanges && (ignoreDeletes || skipChangeCommits)),
    "ignoreChanges supersedes ignoreDeletes/skipChangeCommits — set " +
      "one policy, not both")
  require(!(changeFeed && (ignoreDeletes || skipChangeCommits)),
    "ignoreDeletes/skipChangeCommits apply to the data stream, not " +
      "the change feed (the feed derives deletes itself)")

  // skipChangeCommits also skips the delete-only commits ignoreDeletes
  // would admit, so it wins when both are set
  private val policy: graft.io.VersionedTable.ChangePolicy = {
    import graft.io.VersionedTable.ChangePolicy._
    if (ignoreChanges) IgnoreChanges
    else if (skipChangeCommits) SkipChangeCommits
    else if (ignoreDeletes) IgnoreDeletes
    else Fail
  }

  override val schema: StructType =
    VersionedStreamSource.schemaFor(spark, path, changeFeed, changeFeedMeta)

  private def version(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] = vt.currentVersion
    .map(v => endBound.fold(v)(math.min(v, _)))
    .filter(_ >= 0) // empty ending window: nothing admissible yet
    .map(LongOffset(_))

  /** RATE LIMITING (Delta `maxFilesPerTrigger` at this source's
    * version granularity): with `maxVersionsPerBatch = m`, a stream
    * that fell behind catches up in ≤m-version micro-batches instead
    * of one unbounded batch — admission control hands us the START
    * offset, so the cap survives restarts (the plain V1 `getOffset`
    * cannot see its consumer's position). The INITIAL snapshot batch
    * is one batch by design — version offsets cannot split a single
    * version. Unset ⇒ everything available, the V1 behavior. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Memoized per-version added-file counts for the file-based cap —
    * each version's count is asked once per catch-up, not once per
    * poll. */
  private val addedFilesMemo =
    scala.collection.mutable.Map.empty[Long, Long]
  private def addedFiles(v: Long): Long =
    addedFilesMemo.getOrElseUpdate(v, vt.addedFileCount(v))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = vt.currentVersion
    // startingVersion gives the FIRST batch a defined start too, so
    // the cap applies there as well; a plain snapshot first batch
    // stays uncapped by design (one version, indivisible)
    val from: Option[Long] = Option(start)
      .map(o => version(o.asInstanceOf[Offset]))
      .orElse(effectiveStartingVersion.map(_ - 1))
    val byVersions: Option[Long] = (cur, maxVersionsPerBatch, from) match {
      case (Some(c), Some(m), Some(f)) => Some(math.min(c, f + m))
      case (c, _, _) => c
    }
    // FILE-based rate limiting (Delta `maxFilesPerTrigger` proper):
    // admit whole versions while their cumulative added-file count
    // fits the cap — but always at least ONE version, or a single
    // commit larger than the cap would stall the stream forever
    // (Delta's same progress rule). Composes with the version cap by
    // taking the smaller admitted end.
    val byFiles: Option[Long] = (cur, maxFilesPerBatch, from) match {
      case (Some(c), Some(cap), Some(f)) =>
        var v = f
        var files = 0L
        while (v < c &&
            (files == 0L || files + addedFiles(v + 1) <= cap)) {
          files += addedFiles(v + 1)
          v += 1
        }
        Some(v)
      case (c, _, _) => c
    }
    val capped = (byVersions, byFiles) match {
      case (Some(a), Some(b)) => Some(math.min(a, b))
      case _ => byVersions.orElse(byFiles)
    }
    // bounded replay: never plan past the end bound — and never plan
    // BACKWARDS either (a restart with a lower bound, or a bound below
    // startingVersion, admits nothing more rather than a from>to batch)
    val bounded = capped.map { c =>
      val b = endBound.fold(c)(math.min(c, _))
      from.fold(b)(f => math.max(b, f))
    }
    // an empty ending window (timestamp before the first commit) with
    // no prior offset admits NOTHING — not a version "-1" batch
    bounded.filter(_ >= 0).map(LongOffset(_)).orNull
  }

  /** First batch without a checkpointed start: the snapshot — unless
    * `startingVersion = v` (Delta's option of the same name) makes it
    * the CHANGES of versions [v, end] instead, skipping the snapshot
    * entirely (the "subscribe from here on" form for a consumer that
    * bootstrapped out of band). */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(version).orElse(effectiveStartingVersion.map(_ - 1))
    if (changeFeed) vt.streamChangeBatch(from, version(end), changeFeedMeta)
    else vt.streamBatch(from, version(end), policy)
  }

  override def stop(): Unit = ()
}

object VersionedStreamSource {
  /** Table schema, plus `_change_type` in change-feed mode, plus the
    * Delta CDF commit-metadata columns under `changeFeedMeta`. */
  def schemaFor(spark: SparkSession, path: String,
      changeFeed: Boolean, changeFeedMeta: Boolean = false): StructType = {
    val base = new graft.io.VersionedTable(spark, path).read().schema
    if (!changeFeed) base
    else {
      val cdf = StructType(base.fields :+
        org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType))
      if (!changeFeedMeta) cdf
      else StructType(cdf.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType)))
    }
  }
}

/** `spark.readStream.format(<this class's companion name>)` provider.
  * Options: `path` (versioned table root, required), `ignoreChanges`
  * (tolerate non-append commits by streaming only added files),
  * `maxVersionsPerBatch` (rate limiting: cap each micro-batch at this
  * many versions past the last committed offset — Delta's
  * maxFilesPerTrigger at version granularity), `maxFilesPerBatch`
  * (Delta's maxFilesPerTrigger proper: admit whole versions while
  * their cumulative added-file count fits the cap, always at least
  * one version for progress; composes with the version cap),
  * `startingVersion` /
  * `startingTimestamp` (mutually exclusive — subscribe from a version,
  * or from the first version committed at or after an ISO-8601
  * instant, skipping the snapshot; Delta's options of the same
  * names), `endingVersion` / `endingTimestamp` (mutually exclusive —
  * BOUNDED REPLAY, Delta CDF's options: the stream never plans past
  * the bound; under `Trigger.AvailableNow` it drains the closed
  * window and terminates). */
final class VersionedStreamSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "option 'path' (a versioned table root) is required"))

  private def changeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  private def changeFeedMeta(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeedMeta").exists(_.toBoolean)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(VersionedStreamSource.schemaFor(
      ctx.sparkSession, tablePath(parameters), changeFeed(parameters),
      changeFeedMeta(parameters))))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new VersionedStreamSource(ctx.sparkSession, tablePath(parameters),
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      changeFeed = changeFeed(parameters),
      changeFeedMeta = changeFeedMeta(parameters),
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.toBoolean),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean),
      maxVersionsPerBatch = parameters.get("maxVersionsPerBatch")
        .map(_.toLong).map { m =>
          require(m > 0, "maxVersionsPerBatch must be positive"); m
        },
      startingVersion = parameters.get("startingVersion").map(_.toLong),
      startingTimestamp = parameters.get("startingTimestamp").map { ts =>
        java.time.Instant.parse(ts) // fail at construction, not first poll
        ts
      },
      maxFilesPerBatch = parameters.get("maxFilesPerBatch")
        .map(_.toLong).map { m =>
          require(m > 0, "maxFilesPerBatch must be positive"); m
        },
      endingVersion = parameters.get("endingVersion").map(_.toLong),
      endingTimestamp = parameters.get("endingTimestamp").map { ts =>
        java.time.Instant.parse(ts) // fail at construction, not first poll
        ts
      })
}
