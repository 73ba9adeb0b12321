package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Timestamp resolution over the commit history: the forward-rounding
  * [[VersionedTable.versionAt]] with `forward` (Delta `startingTimestamp`
  * semantics) against the backward-rounding `versionAtTimestamp`, and
  * the timestamp-range change feed built on the pair. */
class TimestampCdfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plusSecs(ts: String, s: Long): String =
    java.time.Instant.parse(ts).plusSeconds(s).toString

  private lazy val fixture: (VersionedTable, Map[Long, String]) = {
    val root = s"${Fixtures.tempDir("graft-ts-cdf")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v2
    vt.deleteVectorized("id", 1, 1) // v3
    val ts = vt.history(limit = Int.MaxValue)
      .map(h => h.version -> h.timestamp).toMap
    (vt, ts)
  }

  test("firstVersionAtOrAfter rounds FORWARD; versionAtTimestamp BACK") {
    val (vt, ts) = fixture
    assert(vt.versionAt(ts(0L), forward = true) === Some(0L))
    assert(vt.versionAt(ts(2L), forward = true) === Some(2L))
    // past the newest commit: nothing has happened there yet
    assert(vt.versionAt(plusSecs(ts(3L), 3600), forward = true) === None)
    // the same instant resolves BACK to v3 for time travel
    assert(vt.versionAtTimestamp(plusSecs(ts(3L), 3600)) === 3L)
  }

  test("changesBetweenTimestamps: inclusive start, append fast path") {
    val (vt, ts) = fixture
    // [t(v1), t(v2)]: v1 and v2's appends, file-level inserts only
    val rows = vt.changesBetweenTimestamps(ts(1L), ts(2L))
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(rows === Seq((3L, "insert"), (4L, "insert")))
  }

  test("a start at the creating commit diffs the empty prelude") {
    val (vt, ts) = fixture
    val rows = vt.changesBetweenTimestamps(ts(0L), ts(1L))
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(rows === Seq((1L, "insert"), (2L, "insert"), (3L, "insert")))
  }

  test("a window crossing a delete emits the removed rows") {
    val (vt, ts) = fixture
    val rows = vt.changesBetweenTimestamps(ts(3L), ts(3L))
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(rows === Seq((1L, "delete")))
  }

  test("commit timestamps are strictly monotone (in-commit clamp)") {
    import java.time.Instant
    // the pure clamp: step-back and tie both land at prev + 1ms
    val t = Instant.parse("2026-01-01T00:00:00Z")
    assert(VersionedTable.monotoneCommitTime(Some(t), t.minusSeconds(5))
      === t.plusMillis(1))
    assert(VersionedTable.monotoneCommitTime(Some(t), t)
      === t.plusMillis(1))
    assert(VersionedTable.monotoneCommitTime(Some(t), t.plusSeconds(1))
      === t.plusSeconds(1))
    assert(VersionedTable.monotoneCommitTime(None, t) === t)
    // and the recorded history honors it across rapid commits
    val (vt, _) = fixture
    val ts = vt.history(limit = Int.MaxValue).map(_.timestamp)
      .map(java.time.Instant.parse) // newest-first
    assert(ts.zip(ts.tail).forall { case (newer, older) =>
      newer.isAfter(older) }, s"non-monotone history: $ts")
  }

  test("degenerate windows fail loudly") {
    val (vt, ts) = fixture
    // nothing committed at or after the start
    intercept[RuntimeException] {
      vt.changesBetweenTimestamps(plusSecs(ts(3L), 3600),
        plusSecs(ts(3L), 7200))
    }
    // start resolves past the end: empty commit window
    intercept[IllegalArgumentException] {
      vt.changesBetweenTimestamps(ts(2L), ts(1L))
    }
  }
}
