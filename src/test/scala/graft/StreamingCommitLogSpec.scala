package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.io.CommitLog

/** Exactly-once streaming ingest into the commit-log table: the
  * `(queryName, batchId)` transaction marker lands in the SAME atomic
  * commit as the micro-batch's data, so a replayed batch (restart
  * re-delivery) is recognized and skipped — the streaming half of the
  * Delta-style idempotent-writer contract the batch side pins in
  * `CommitLogSpec`. */
class StreamingCommitLogSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_scl_$name")
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    p.toString
  }

  test("streaming foreachBatch ingest lands each batch once; replay is a no-op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t = freshTable("ingest")
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch(CommitLog.streamingBatchWriter(t, "ingest_q"))
      .start()
    try {
      src.addData(1L -> "a", 2L -> "b")
      q.processAllAvailable()
      src.addData(3L -> "c")
      q.processAllAvailable()
    } finally q.stop()

    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(CommitLog.transactions(t) == Set("ingest_q#0", "ingest_q#1"))

    // a crash between sink-commit and source-offset-commit re-delivers the
    // last batch on restart: same query name, same batchId, same data
    val replay = Seq(3L -> "c").toDF("id", "v")
    assert(CommitLog.txnAppend(replay, t, "ingest_q#1").isEmpty,
      "replayed (query, batchId) txn must not commit twice")
    assert(CommitLog.read(spark, t).count() == 3)

    // but the NEXT batch id is new and lands
    assert(CommitLog.txnAppend(Seq(4L -> "d").toDF("id", "v"), t, "ingest_q#2").isDefined)
    assert(CommitLog.read(spark, t).count() == 4)
  }

  test("txn markers survive checkpoint + log expiry") {
    import spark.implicits._
    val t = freshTable("txnckpt")
    CommitLog.txnAppend(Seq(1L -> "a").toDF("id", "v"), t, "q#0")
    CommitLog.txnAppend(Seq(2L -> "b").toDF("id", "v"), t, "q#1")
    CommitLog.checkpoint(t)
    CommitLog.expireLog(t)
    // the pre-checkpoint commits are gone, but the dedup contract holds:
    // replaying batch 0 against the checkpointed table is still a no-op
    assert(CommitLog.transactions(t) == Set("q#0", "q#1"))
    assert(CommitLog.txnAppend(Seq(1L -> "a").toDF("id", "v"), t, "q#0").isEmpty)
    assert(CommitLog.txnAppend(Seq(3L -> "c").toDF("id", "v"), t, "q#2").isDefined)
    assert(CommitLog.read(spark, t).count() == 3)
  }

  test("checkpointEvery keeps a long-running ingest's log bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t = freshTable("cadence")
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch(CommitLog.streamingBatchWriter(t, "q", checkpointEvery = 4))
      .start()
    try {
      (0 until 12).foreach { i =>
        src.addData(i.toLong -> s"b$i")
        q.processAllAvailable()
      }
    } finally q.stop()
    // versions 0..11 landed; rolls at v4 and v8 expired everything below
    // the last checkpoint — the log holds the summary + anchor + tail,
    // never the full batch history
    assert(CommitLog.currentVersion(t) == 11L)
    assert(CommitLog.lastCheckpoint(t).contains(8L))
    val retained = CommitLog.versions(t)
    assert(retained == (8L to 11L), s"only the post-checkpoint tail remains: $retained")
    assert(CommitLog.read(spark, t).count() == 12)
    // replay dedup still holds across the rolls
    assert(CommitLog.txnAppend(Seq(0L -> "b0").toDF("id", "v"), t, "q#0").isEmpty)
    assert(CommitLog.transactions(t).size == 12)
  }

  test("a malformed txn id is rejected before anything is staged") {
    import spark.implicits._
    val t = freshTable("txnbad")
    intercept[IllegalArgumentException] {
      CommitLog.txnAppend(Seq(1L -> "a").toDF("id", "v"), t, "")
    }
    assert(!Files.exists(Paths.get(t, "_log")))
  }
}
