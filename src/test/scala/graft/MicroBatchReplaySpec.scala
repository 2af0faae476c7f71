package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Curation, MicroBatches, Sampling, Similarity, TextOps}
import graft.streaming.Ingest

/** Crash replay of every stream on the micro-batch loop, table-driven.
  * Each stream runs two data batches; then the checkpoint is cut back
  * to a crash between the second one's output and its commit (its
  * commit entry and every later commit or offset entry dropped) and
  * the stream restarts, so that batch replays end to end. The replay
  * must leave:
  *  - every output the same, leaf directory by leaf directory, as a
  *    row multiset (a double append shows; part-file names carry a
  *    per-write id and row order inside a file follows shuffle fetch
  *    order, so file bytes are not the contract);
  *  - every state directory byte-identical, file by file: no second
  *    version, no second commit marker, no double-merged counts;
  *  - the checkpoint's commits through the replayed batch as they
  *    were.
  */
class MicroBatchReplaySpec extends SparkSpecBase {
  import MicroBatchReplaySpec.Loop
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def blobVecs(seed: Int, n: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(i % 2) = v(i % 2) + (if (i % 2 == 0) 3.0f else -3.0f)
      v
    }
  }

  /** A MemoryStream and the feed that adds batch k of `batches`. */
  private def memStream[A: Encoder](batches: Seq[Seq[A]])
      : (MemoryStream[A], Int => Unit) = {
    val mem = MemoryStream[A]
    (mem, k => { mem.addData(batches(k)); () })
  }

  private def annServe(): Loop = {
    val dir = tmp("replay-ann")
    Similarity.writeIvfIndex(blobVecs(31, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"),
      s"$dir/idx", nlist = 4, iters = 2)
    val qs = blobVecs(32, 3)
    val (mem, feed) = memStream(Seq(
      Seq((900L, qs(0)), (901L, qs(1))), Seq((902L, qs(2)))))
    Loop(ckpt => MicroBatches.serve(mem.toDF().toDF("vec_id", "embedding"),
        ckpt, s"$dir/out", 50L) { b =>
      Similarity.knnJoinIndexed(b.sparkSession, s"$dir/idx", b, k = 3,
        nprobe = 2)
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/idx"))
  }

  private def prefixIvfServe(): Loop = {
    val dir = tmp("replay-pivf")
    val rnd = new scala.util.Random(47)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    Similarity.writePrefixIvfIndex((0L until 60L).map(i => (i, vec()))
      .toDF("vec_id", "embedding"), s"$dir/idx", prefixDim = 16,
      nlist = 4, iters = 2)
    val (mem, feed) = memStream(Seq(
      Seq((1000L, vec()), (1001L, vec())), Seq((1002L, vec()))))
    Loop(ckpt => MicroBatches.serve(mem.toDF().toDF("vec_id", "embedding"),
        ckpt, s"$dir/out", 50L) { b =>
      Similarity.prefixIvfKnnJoin(b.sparkSession, s"$dir/idx", b, k = 3,
        nprobe = 4, cand = 10)
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/idx"))
  }

  private def bm25Serve(): Loop = {
    val dir = tmp("replay-bm25")
    TextOps.writeBm25Index(Seq(
      (0L, "apple banana cherry", "s"), (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s"))
      .toDF("doc_id", "text", "source"), s"$dir/idx", nBuckets = 8)
    val (mem, feed) = memStream(Seq(
      Seq((900L, "apple banana"), (901L, "elderberry fig")),
      Seq((902L, "durian"))))
    Loop(ckpt => MicroBatches.serve(mem.toDF().toDF("query_id", "text"),
        ckpt, s"$dir/out", 50L) { b =>
      TextOps.bm25SearchIndexed(b.sparkSession, s"$dir/idx", b, k = 3)
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/idx"))
  }

  private def drift(): Loop = {
    val dir = tmp("replay-drift")
    TextOps.sourceBigramDim(Seq((1L, "abab", "s"), (2L, "bcbc", "t"))
      .toDF("doc_id", "text", "source")).write.parquet(s"$dir/dim")
    val (mem, feed) = memStream(Seq(
      Seq((10L, "ab", "s"), (11L, "bc", "t")), Seq((12L, "zz", "s"))))
    Loop(ckpt => MicroBatches.serve(
        mem.toDF().toDF("doc_id", "text", "source"), ckpt, s"$dir/out",
        50L) { b =>
      TextOps.bigramDriftDims(b.sparkSession.read.parquet(s"$dir/dim"),
        TextOps.sourceBigramDim(b))
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/dim"))
  }

  private def spanDedup(): Loop = {
    val dir = tmp("replay-span")
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val uniq = (1 to 10).map(i => s"u$i").mkString(" ")
    TextOps.initWindowDim(spark, s"$dir/dim",
      Seq((1L, s"a0 a1 $shared z0 z1")).toDF("doc_id", "text"))
    val (mem, feed) = memStream(Seq(
      Seq((10L, shared), (11L, uniq)), Seq((12L, uniq))))
    Loop(ckpt => MicroBatches.start(mem.toDF().toDF("doc_id", "text"), ckpt,
        50L) { (b, id) =>
      TextOps.spanDedupBatch(b.sparkSession, s"$dir/dim", b, id,
        s"$dir/out")
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/dim"))
  }

  private def stratifiedSample(): Loop = {
    val dir = tmp("replay-strat")
    Sampling.initStratifiedState(spark, s"$dir/state",
      (0L until 40L).map(i => (i, s"s${i % 2}")).toDF("doc_id", "source"),
      "source", "doc_id", k = 3)
    val (mem, feed) = memStream(Seq(
      Seq((100L, "s0"), (101L, "s1"), (102L, "s2")),
      (200L until 240L).map(i => (i, s"s${i % 2}"))))
    Loop(ckpt => MicroBatches.start(mem.toDF().toDF("doc_id", "source"),
        ckpt, 50L) { (b, id) =>
      Sampling.stratifiedSampleBatch(b.sparkSession, s"$dir/state", b, id,
        s"$dir/out", "source", "doc_id", k = 3)
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/state"))
  }

  private def curationMaintenance(): Loop = {
    val dir = tmp("replay-curation")
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    Curation.writeState(Curation.stateOf((0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER",
        s"src${i % 2}")).toDF("doc_id", "text", "source")), s"$dir/state")
    // batch 1 repeats a batch-0 doc: only the advanced state drops it,
    // so a replay against the wrong version changes the product
    val (mem, feed) = memStream(Seq(
      Seq((1003L, body(3) + " tail", "src0"),
        (1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
        (1101L, body(200), "src0")),
      Seq((2100L, body(100) + " tail", "src0"),
        (2101L, body(300), "src0"))))
    Loop(ckpt => MicroBatches.start(
        mem.toDF().toDF("doc_id", "text", "source"), ckpt, 50L) { (b, id) =>
      Curation.maintenanceStep(b, id, s"$dir/state", s"$dir/out")
      ()
    }, feed, Seq(s"$dir/out"), Seq(s"$dir/state"))
  }

  private def indexMaintenance(): Loop = {
    val dir = tmp("replay-index")
    Similarity.writeIvfIndex(blobVecs(17, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"),
      s"$dir/idx", nlist = 4, iters = 2)
    val vs = blobVecs(18, 3)
    val (mem, feed) = memStream(Seq(
      Seq((100L, vs(0)), (101L, vs(1))), Seq((102L, vs(2)))))
    Loop(ckpt => MicroBatches.start(mem.toDF().toDF("vec_id", "embedding"),
        ckpt, 50L) { (b, id) =>
      Similarity.appendToIvfIndexCommitted(b.sparkSession, s"$dir/idx", b,
        id)
    }, feed, Nil, Seq(s"$dir/idx"))
  }

  private def rejects(): Loop = {
    val dir = tmp("replay-rejects")
    def row(t: String, q: String) =
      (Timestamp.valueOf(t), "app[app] @ 10.0.0.5 []", q)
    val (mem, feed) = memStream(Seq(
      Seq(row("2024-01-10 12:00:00", "SET GLOBAL x=1"),
        row("2024-01-10 12:00:01", "SELECT 1 FROM a")),
      Seq(row("2024-01-10 12:00:02", " "))))
    Loop(ckpt => Ingest.startRejects(
        mem.toDF().toDF("event_time", "user_host", "argument"),
        s"$dir/rejects", ckpt, 50L),
      feed, Seq(s"$dir/rejects"), Nil)
  }

  private def ingest(): Loop = {
    val dir = tmp("replay-ingest")
    val users = Seq(("root", "Admin", 1L), ("app", "User", 2L))
      .toDF("username", "role", "user_id")
    def line(sec: Int, who: String, q: String): String =
      f"""{"event_time":"2024-01-10T12:00:$sec%02d.000Z",""" +
        s""""user_host":"$who[$who] @ 10.0.0.5 []","argument":"$q"}"""
    val batches = Seq(
      Seq(line(0, "root", "SELECT * FROM orders"),
        line(1, "evil", "SELECT password FROM users UNION SELECT 1")),
      Seq(line(4, "evil", "SELECT salary FROM payments")))
    new File(s"$dir/src").mkdirs()
    val cfg = Ingest.IngestConfig(
      logsDir = s"$dir/logs", alertsDir = s"$dir/alerts",
      checkpointDir = "", triggerMs = 50L,
      blocksDir = Some(s"$dir/blocks"))
    // a file spool, not a MemoryStream: the watermark's no-data batch
    // commits the source past batch 1, and a MemoryStream drops
    // committed rows, so its replay would read nothing
    Loop(ckpt => Ingest.start(spark,
        spark.readStream.schema(graft.sources.Tables.GeneralLogSchema)
          .json(s"$dir/src"), users, cfg.copy(checkpointDir = ckpt)),
      k => {
        Files.write(Paths.get(s"$dir/src/b$k.json"),
          batches(k).mkString("\n").getBytes("UTF-8"))
        ()
      }, Seq(s"$dir/logs", s"$dir/alerts", s"$dir/blocks"), Nil)
  }

  private val loops: Seq[(String, () => Loop)] = Seq(
    "ANN serve" -> (() => annServe()),
    "prefix-IVF serve" -> (() => prefixIvfServe()),
    "BM25 serve" -> (() => bm25Serve()),
    "drift monitor" -> (() => drift()),
    "span dedup" -> (() => spanDedup()),
    "stratified sample" -> (() => stratifiedSample()),
    "curation maintenance" -> (() => curationMaintenance()),
    "index maintenance" -> (() => indexMaintenance()),
    "ingest rejects" -> (() => rejects()),
    "ingest" -> (() => ingest()))

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** Every parquet leaf dir under `dir` by relative path, with its
    * rows as a sorted multiset. */
  private def rowsOf(dir: String): Seq[(String, Seq[String])] = {
    val root = Paths.get(dir)
    walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.getParent).distinct
      .map(leaf => root.relativize(leaf).toString ->
        spark.read.parquet(leaf.toString).collect().map(_.toString)
          .sorted.toSeq)
      .sortBy(_._1)
  }

  /** Every file under `dir` by relative path, with its md5. */
  private def bytesOf(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    walk(dir).map(f => root.relativize(f).toString ->
      java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString)
      .sortBy(_._1)
  }

  private def entries(ckpt: String, log: String): Seq[File] =
    Option(new File(s"$ckpt/$log").listFiles()).toSeq.flatten

  /** Batch ids of the checkpoint's commit log. */
  private def commits(ckpt: String): Seq[Long] =
    entries(ckpt, "commits").map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted

  /** A crash after batch `r`'s output, before its commit: commits from
    * `r` on and offsets past `r` (the no-data batches a watermark
    * plans) are dropped, with their checksums. */
  private def crashBeforeCommit(ckpt: String, r: Long): Unit =
    Seq("commits" -> r, "offsets" -> (r + 1)).foreach { case (log, from) =>
      entries(ckpt, log).foreach { f =>
        val id = f.getName.stripPrefix(".").stripSuffix(".crc")
        if (id.forall(_.isDigit) && id.toLong >= from) {
          assert(f.delete(), s"cannot drop $f")
        }
      }
    }

  loops.foreach { case (name, make) =>
    test(s"micro-batch replay: $name — a replayed batch rewrites the same rows and leaves its state untouched") {
      val loop = make()
      val ckpt = tmp("replay-ckpt")
      val q1 = loop.start(ckpt)
      try {
        loop.feed(0)
        q1.processAllAvailable()
        loop.feed(1)
        q1.processAllAvailable()
      } finally q1.stop()
      // the second data batch: a watermark may interleave no-data
      // batches
      val data = q1.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(data.length == 2, s"$name: data batches ${data.toSeq}")
      val replayed = data.max
      def snapshot() =
        (loop.outputs.map(rowsOf), loop.state.map(bytesOf), commits(ckpt))
      val before = snapshot()
      assert(before._3.contains(replayed),
        s"$name: batch $replayed never committed")
      assert(loop.outputs.isEmpty || before._1.exists(_.nonEmpty),
        s"$name: no output landed")
      crashBeforeCommit(ckpt, replayed)
      assert(commits(ckpt).max < replayed)
      val q2 = loop.start(ckpt)
      try q2.processAllAvailable() finally q2.stop()
      val after = snapshot()
      // a watermark's trailing no-data batch is Spark's to schedule
      def through(c: Seq[Long]) = c.filter(_ <= replayed)
      assert(through(after._3) == through(before._3),
        s"$name: commits ${after._3}")
      assert(after._1 == before._1, s"$name: the replay changed the output")
      assert(after._2 == before._2, s"$name: the replay changed the state")
    }
  }
}

object MicroBatchReplaySpec {
  /** One stream on the loop: `start(ckpt)` starts it, `feed(k)` adds
    * batch k's rows, `outputs` are the dirs its batches land in and
    * `state` the durable state it reads or advances. */
  private final case class Loop(start: String => StreamingQuery,
                                feed: Int => Unit, outputs: Seq[String],
                                state: Seq[String])
}
