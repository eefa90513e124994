package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

case class StreamRec(id: Long, s: String, x: Double)

/** Streaming write path of the manifest table: exactly-once by epoch
  * marker inside the versioned manifest (committed-epoch and visible-files
  * are one atomic CAS publish), replay idempotence, complete-mode
  * truncate-per-epoch with marker survival, and marker carry-forward
  * through interleaved batch writes. */
class ManifestStreamSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val fmt = "graft.sources.ManifestSink"

  private def tmp(): Path = {
    val p = Files.createTempDirectory("manifest-stream")
    p.toFile.deleteOnExit()
    p
  }

  private def dataFiles(root: Path): Set[String] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("data-")).toSet
    } finally s.close()
  }

  test("append-mode stream commits each epoch atomically and the table accumulates") {
    val root = tmp()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamRec]
    val q = ms.toDF().writeStream.format(fmt)
      .option("path", root.toString)
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      ms.addData(StreamRec(1L, "a", 0.5), StreamRec(2L, "b", 1.5))
      q.processAllAvailable()
      assert(spark.read.format(fmt).option("path", root.toString).load().count() == 2)
      ms.addData(StreamRec(3L, "c", 2.5))
      q.processAllAvailable()
      val out = spark.read.format(fmt).option("path", root.toString).load()
        .as[StreamRec].collect().sortBy(_.id).toSeq
      assert(out.map(_.id) == Seq(1L, 2L, 3L))
      // one manifest version per non-empty epoch, marker at the last epoch
      assert(ManifestSink.currentVersion(root) == 2L)
      val markers = ManifestSink.epochMarkers(root)
      assert(markers.size == 1 && markers.head._2 == 1L,
        s"expected high-water epoch 1 for the query, got $markers")
    } finally q.stop()
  }

  test("an epoch with empty tasks publishes only the files holding rows") {
    val root = tmp()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamRec]
    val q = ms.toDF().repartition(8).writeStream.format(fmt)
      .option("path", root.toString)
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      ms.addData(StreamRec(1L, "a", 0.5), StreamRec(2L, "b", 1.5))
      q.processAllAvailable()
      ms.addData(StreamRec(3L, "c", 2.5))
      q.processAllAvailable()
      val entries = ManifestSink.committedEntries(root)
      // 8 tasks per epoch, 3 rows in all: at most one file per row
      assert(entries.nonEmpty && entries.size <= 3 && entries.forall(_.rows > 0L),
        s"got ${entries.map(e => e.name -> e.rows)}")
      assert(dataFiles(root) == entries.map(_.name).toSet,
        "no file may exist for an empty task")
      assert(spark.read.format(fmt).option("path", root.toString).load()
        .as[StreamRec].collect().map(_.id).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(ManifestSink.currentVersion(root) == 2L)
      val markers = ManifestSink.epochMarkers(root)
      assert(markers.size == 1 && markers.head._2 == 1L,
        s"expected high-water epoch 1 for the query, got $markers")
    } finally q.stop()
  }

  test("a replayed epoch is a pure no-op: no new version, duplicate files swept") {
    val root = tmp()
    val schema = StructType(Seq(StructField("id", LongType)))
    val gc = GcPolicy(None, 3600000L)
    val w = new ManifestStreamingWrite(root, schema, truncateEachEpoch = false,
      gc, queryId = "restart-query")

    def fakeTaskFile(name: String): ManifestCommit = {
      Files.createDirectories(root)
      Files.writeString(root.resolve(name), "7\n")
      ManifestCommit(name, 1L, Map("id" -> 7L), Map("id" -> 7L))
    }

    w.commit(0L, Array(fakeTaskFile("data-e0-first.tsv")))
    assert(ManifestSink.currentVersion(root) == 1L)
    // recovery: Spark re-runs epoch 0; the tasks wrote NEW files
    w.commit(0L, Array(fakeTaskFile("data-e0-replay.tsv")))
    assert(ManifestSink.currentVersion(root) == 1L, "replay must not publish")
    assert(spark.read.format(fmt).option("path", root.toString).load().count() == 1,
      "replay must not double-count")
    assert(!dataFiles(root).contains("data-e0-replay.tsv"),
      "replay's duplicate files must be deleted")
    // the next epoch commits normally
    w.commit(1L, Array(fakeTaskFile("data-e1.tsv")))
    assert(ManifestSink.currentVersion(root) == 2L)
    assert(spark.read.format(fmt).option("path", root.toString).load().count() == 2)
  }

  test("complete-mode stream truncates per epoch but the epoch marker survives") {
    val root = tmp()
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[StreamRec]
    val q = ms.toDF().groupBy($"s").agg(count(lit(1)).as("n"))
      .writeStream.format(fmt)
      .option("path", root.toString)
      .option("checkpointLocation", tmp().toString)
      .outputMode("complete").start()
    try {
      ms.addData(StreamRec(1L, "a", 0.0), StreamRec(2L, "a", 0.0))
      q.processAllAvailable()
      ms.addData(StreamRec(3L, "b", 0.0))
      q.processAllAvailable()
      val out = spark.read.format(fmt).option("path", root.toString).load()
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      // latest epoch's full aggregate only — no stale epoch-0 rows
      assert(out == Seq(("a", 2L), ("b", 1L)))
      val markers = ManifestSink.epochMarkers(root)
      assert(markers.size == 1 && markers.head._2 == 1L,
        s"marker must survive the truncate, got $markers")
    } finally q.stop()
  }

  test("the manifest table reads as a stream: each publish is one micro-batch") {
    val root = tmp()
    val dir = root.toString
    Seq(StreamRec(1L, "a", 0.5), StreamRec(2L, "b", 1.5)).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()     // v1
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("manifest_as_stream")
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("manifest_as_stream").count() == 2,
        "the existing table is the first batch")
      Seq(StreamRec(3L, "c", 2.5)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save()   // v2
      q.processAllAvailable()
      val ids = spark.table("manifest_as_stream")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), "the append arrives as exactly one delta")
    } finally q.stop()
  }

  test("streaming read honors changesFromVersion as the starting offset") {
    val root = tmp()
    val dir = root.toString
    (1 to 3).foreach { i =>
      Seq(StreamRec(i.toLong, s"b$i", 0.0)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save()   // v1..v3
    }
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("changesFromVersion", "2").load()
      .writeStream.format("memory").queryName("manifest_from_v2")
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("manifest_from_v2")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(3L), "only versions after the start offset stream")
    } finally q.stop()
  }

  test("streaming read waits for a future changesFromVersion instead of crashing") {
    val root = tmp()
    val dir = root.toString
    Seq(StreamRec(1L, "a", 0.0)).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()     // v1
    // start offset 5 is in the future: the stream must start cleanly and
    // produce nothing (an eager batch-path diff would throw "5 is past 1")
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("changesFromVersion", "5").load()
      .writeStream.format("memory").queryName("manifest_future_start")
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("manifest_future_start").isEmpty)
    } finally q.stop()
  }

  test("streaming read stops advancing past changesToVersion") {
    val root = tmp()
    val dir = root.toString
    (1 to 3).foreach { i =>
      Seq(StreamRec(i.toLong, s"b$i", 0.0)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save()   // v1..v3
    }
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("changesFromVersion", "1").option("changesToVersion", "2").load()
      .writeStream.format("memory").queryName("manifest_capped")
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("manifest_capped")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(2L), s"only the (1, 2] window may stream, got $ids")
    } finally q.stop()
  }

  test("a tailing stream skips a compaction: appends flow, nothing re-delivers") {
    val root = tmp()
    val dir = root.toString
    Seq(StreamRec(1L, "pre", 0.0)).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()   // v1
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("manifest_compact_tail")
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Seq(StreamRec(2L, "mid", 0.0)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save() // v2
      q.processAllAvailable()
      ManifestSink.compact(dir, targetRows = 10L)                    // v3 (rewrite)
      q.processAllAvailable()
      Seq(StreamRec(3L, "post", 0.0)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save() // v4
      q.processAllAvailable()
      val ids = spark.table("manifest_compact_tail")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L),
        s"each row exactly once across the rewrite, got $ids")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger bounds the backlog each micro-batch absorbs") {
    val root = tmp()
    val dir = root.toString
    (1 to 4).foreach { i =>
      Seq(StreamRec(i.toLong, s"v$i", 0.0)).toDF()
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v4
    }
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches(id) = df.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().toSeq
        ()
      }
      .option("checkpointLocation", tmp().toString)
      .start()
    try {
      q.processAllAvailable()
      assert(batches.values.flatten.toSeq.sorted == Seq(1L, 2L, 3L, 4L),
        s"the whole backlog must drain, got $batches")
      assert(batches.count(_._2.nonEmpty) == 4,
        s"one version per trigger => 4 single-row batches, got $batches")
      assert(batches.values.forall(_.size <= 1), s"no batch may exceed one version: $batches")
    } finally q.stop()
  }

  test("table-to-table streaming: exactly-once in, micro-batch out, end to end") {
    // the full pipeline shape: a stream lands in table A under the CAS
    // epoch protocol while a second query tails A's versions into table
    // B — every row flows source → A → B exactly once
    val a = tmp(); val b = tmp()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamRec]
    val qIn = ms.toDF().writeStream.format(fmt).option("path", a.toString)
      .option("checkpointLocation", tmp().toString).outputMode("append").start()
    try {
      ms.addData(StreamRec(1L, "a", 0.0))
      qIn.processAllAvailable() // A@v1 exists: downstream can infer schema
      val qOut = spark.readStream.format(fmt).option("path", a.toString).load()
        .writeStream.format(fmt).option("path", b.toString)
        .option("checkpointLocation", tmp().toString).outputMode("append").start()
      try {
        qOut.processAllAvailable()
        ms.addData(StreamRec(2L, "b", 1.0))
        qIn.processAllAvailable()
        qOut.processAllAvailable()
        val ids = spark.read.format(fmt).option("path", b.toString).load()
          .select("id").as[Long].collect().sorted.toSeq
        assert(ids == Seq(1L, 2L))
        // B carries its own epoch marker, A carries the upstream one
        assert(ManifestSink.epochMarkers(b).size == 1)
      } finally qOut.stop()
    } finally qIn.stop()
  }

  test("a batch append between epochs carries the streaming marker forward") {
    val root = tmp()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamRec]
    val q = ms.toDF().writeStream.format(fmt)
      .option("path", root.toString)
      .option("checkpointLocation", tmp().toString)
      .outputMode("append").start()
    try {
      ms.addData(StreamRec(1L, "a", 0.5))
      q.processAllAvailable()
    } finally q.stop()
    val markersBefore = ManifestSink.epochMarkers(root)
    assert(markersBefore.nonEmpty)
    // a plain batch append rebuilds the manifest — the marker must ride along,
    // or a later stream restart would double-apply its last epoch
    Seq(StreamRec(9L, "z", 9.9)).toDF()
      .write.format(fmt).option("path", root.toString).mode("append").save()
    assert(ManifestSink.epochMarkers(root) == markersBefore)
    assert(spark.read.format(fmt).option("path", root.toString).load().count() == 2)
  }
}
