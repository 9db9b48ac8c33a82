package graft.sources

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestTable]]'s protocol guarantees, each exercised through the
  * failure it exists to close: crash-between-stages invisibility,
  * idempotent re-commit (the reference's append-duplicate gap),
  * append composition, concurrent-reader retention, time travel,
  * the vacuum orphan collector (age-guarded since r15), and the
  * optimistic concurrent-writer race (r14 verdict #4: version-only
  * filename contention — losers retry, history stays serial).
  */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  private def df(lo: Int, hi: Int) =
    spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v"))

  test("replace commit + read roundtrip; versions monotonic") {
    val dir = tmpTable()
    assert(ManifestTable.commit(df(0, 10), dir, "c1") == 1L)
    assert(ManifestTable.read(spark, dir).count() == 10)
    assert(ManifestTable.commit(df(0, 25), dir, "c2") == 2L)
    assert(ManifestTable.read(spark, dir).count() == 25)
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(1L, 2L))
  }

  test("idempotent re-commit: same commitId is a no-op returning the old version") {
    val dir = tmpTable()
    assert(ManifestTable.commit(df(0, 10), dir, "daily-2024-01-07") == 1L)
    // the scheduler retried the job with different (buggy, larger) data —
    // the table must NOT change and no new version may appear
    assert(ManifestTable.commit(df(0, 99), dir, "daily-2024-01-07") == 1L)
    assert(ManifestTable.read(spark, dir).count() == 10)
    assert(ManifestTable.snapshots(spark, dir).size == 1)
    // and the duplicate's staged files were collected, not leaked into data/
    assert(ManifestTable.vacuum(spark, dir, retentionMs = 0L) == 0)
  }

  test("append mode composes file lists; replace resets them") {
    val dir = tmpTable()
    ManifestTable.commit(df(0, 10), dir, "a1", mode = "append")
    ManifestTable.commit(df(10, 30), dir, "a2", mode = "append")
    assert(ManifestTable.read(spark, dir).count() == 30)
    ManifestTable.commit(df(0, 5), dir, "r1", mode = "replace")
    assert(ManifestTable.read(spark, dir).count() == 5)
  }

  test("crash between data write and manifest publish is invisible; vacuum collects") {
    val dir = tmpTable()
    ManifestTable.commit(df(0, 10), dir, "c1")
    // simulate the crash: data files land under data/<uuid> but the
    // manifest rename never happens
    df(0, 999).write.parquet(s"$dir/data/crashed-uuid")
    assert(ManifestTable.read(spark, dir).count() == 10)
    // ...and a crash even earlier, mid-staging
    df(0, 7).write.parquet(s"$dir/.staging/crashed-uuid-2")
    assert(ManifestTable.read(spark, dir).count() == 10)
    // default retention (24 h) REFUSES both young dirs: they could be a
    // live writer mid-commit (the r14 unconditional delete destroyed
    // in-flight commits; ADVICE r14)
    assert(ManifestTable.vacuum(spark, dir) == 0)
    // retention 0 = "everything is stale": both orphans collected
    assert(ManifestTable.vacuum(spark, dir, retentionMs = 0L) == 2)
    assert(ManifestTable.read(spark, dir).count() == 10)
  }

  test("concurrent reader: a pinned version survives a later replace (until vacuum)") {
    val dir = tmpTable()
    ManifestTable.commit(df(0, 10), dir, "c1")
    val pinned = ManifestTable.readVersion(spark, dir, 1L)
    ManifestTable.commit(df(0, 3), dir, "c2", mode = "replace")
    // the old snapshot's files still exist — the pinned frame re-executes fine
    assert(pinned.count() == 10)
    assert(ManifestTable.read(spark, dir).count() == 3)
    // vacuum keeps BOTH: v1 is still a referenced manifest (time travel)
    assert(ManifestTable.vacuum(spark, dir, retentionMs = 0L) == 0)
    assert(ManifestTable.readVersion(spark, dir, 1L).count() == 10)
  }

  test("commitId validation: separators that would break the manifest encoding") {
    val dir = tmpTable()
    intercept[IllegalArgumentException](ManifestTable.commit(df(0, 1), dir, ""))
    intercept[IllegalArgumentException](ManifestTable.commit(df(0, 1), dir, "a/b"))
    intercept[IllegalArgumentException](ManifestTable.commit(df(0, 1), dir, "a\nb"))
    // '__' is legal since r15: the commitId no longer rides the filename
    assert(ManifestTable.commit(df(0, 1), dir, "a__b") == 1L)
  }

  test("racing writers: distinct consecutive versions, serial history, no lost commit") {
    val dir = tmpTable()
    ManifestTable.commit(df(0, 5), dir, "base", mode = "append")
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val futs = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          barrier.await() // maximize the version-collision window
          ManifestTable.commit(df(100 * (i + 1), 100 * (i + 1) + 10),
            dir, s"racer-$i", mode = "append")
        }
      })
    }
    val versions = futs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // every racer won SOME version; no duplicates, no gaps: 2..n+1
    assert(versions.sorted == (2L to (n + 1).toLong))
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.map(_.version) == (1L to (n + 1).toLong))
    // serial append history: each snapshot strictly extends its predecessor
    snaps.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.files.toSet.subsetOf(b.files.toSet))
        assert(b.files.size > a.files.size)
      case _ => ()
    }
    // no lost commit: the latest snapshot carries base + all six appends
    assert(ManifestTable.read(spark, dir).count() == 5 + n * 10)
    // each version is readable and row counts grow monotonically
    val counts = snaps.map(s => ManifestTable.readVersion(spark, dir, s.version).count())
    assert(counts == counts.sorted && counts.distinct == counts)
  }
}
