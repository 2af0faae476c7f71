package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned persisted-state ladder for streaming operators whose
  * state advances once per micro-batch: published snapshots live
  * under `v<version>_b<producingBatchId>` directories, each holding
  * named frames (the frame named "" is the version dir itself). The
  * corpus state of [[Curation.maintenanceStep]] keeps five named
  * frames per version; the window dim of [[TextOps.spanDedupBatch]]
  * and the picks of [[Sampling.stratifiedSampleBatch]] keep one.
  * [[step]] is the only code that advances a version.
  */
object VersionedState {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private val Name = "^v(\\d+)_b(-?\\d+)$".r

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The published (version, producing-batch) ladder, ascending. */
  private def versions(fs: FileSystem, dir: String): Seq[(Int, Long)] = {
    val d = new Path(dir)
    val ls = if (fs.exists(d)) fs.listStatus(d) else null
    (if (ls == null) Array.empty[org.apache.hadoop.fs.FileStatus] else ls)
      .toSeq.flatMap(_.getPath.getName match {
        case Name(v, b) => Some((v.toInt, b.toLong))
        case _ => None
      }).sortBy(_._1)
  }

  /** Bootstrap: publish `frames` as version 0, producing batch -1 (no
    * stream batch may claim it). Refuses a dir that already holds a
    * version: version 0 publishes with `keep = 1`, which would prune a
    * live stream's state. */
  def init(spark: SparkSession, dir: String,
           frames: Seq[(String, DataFrame)]): Unit = {
    val fs = fsOf(spark, dir)
    require(versions(fs, dir).isEmpty,
      s"versioned state: $dir already initialized")
    publish(spark, fs, dir, frames, 0, -1L, keep = 1)
  }

  /** A reader of the newest published version's named frames. */
  def latest(spark: SparkSession, dir: String): String => DataFrame = {
    val vs = versions(fsOf(spark, dir), dir)
    require(vs.nonEmpty, s"versioned state: $dir has no published version")
    reader(spark, dir, vs.last._1, vs.last._2)
  }

  /** One replayable advance for stream batch `batchId`: the
    * resolve → output → publish-unless-replayed protocol.
    *
    *  1. Resolve. Stream batch ids only grow, so a `batchId` at or
    *     below the newest version's producing batch is a replay of a
    *     batch whose advance already committed: it resolves to the
    *     newest version produced BEFORE it (the input its original run
    *     saw), and when none survives it cannot reproduce that input
    *     and fails fast. A newer `batchId` resolves to the newest
    *     version.
    *  2. `body` gets a reader of the resolved version's named frames,
    *     writes the batch's output (replay-idempotent: an overwrite
    *     keyed on `batchId`) and returns the advanced frames LAZILY.
    *  3. Unless the batch replays, the frames publish as the next
    *     version stamped with `batchId`: staged, then one rename, so a
    *     half-written snapshot is never resolvable; one prior version
    *     is kept for a replay and older ones prune. A replay never
    *     forces the thunk, so it pays none of the advance's work.
    *
    * Whichever prefix of {output, publish} a crash leaves, the replay
    * recomputes from the same resolved version and overwrites, and
    * the state can never absorb a batch twice.
    */
  def step(spark: SparkSession, dir: String, batchId: Long)
          (body: (String => DataFrame) => (() => Seq[(String, DataFrame)]))
      : Unit = {
    val fs = fsOf(spark, dir)
    val vs = versions(fs, dir)
    require(vs.nonEmpty,
      s"versioned state: nothing published under $dir — bootstrap " +
        "with init first")
    val replay = vs.last._2 >= batchId
    val prior = vs.filter(_._2 < batchId)
    require(prior.nonEmpty,
      s"versioned state: replay of batch $batchId under $dir but " +
        "no prior version survives — cannot reproduce its input")
    val (v, b) = prior.last
    val advanced = body(reader(spark, dir, v, b))
    if (!replay) publish(spark, fs, dir, advanced(), v + 1, batchId)
  }

  private def reader(spark: SparkSession, dir: String, v: Int,
                     b: Long): String => DataFrame = name =>
    spark.read.parquet(frameDir(new Path(dir, s"v${v}_b$b"), name).toString)

  private def frameDir(version: Path, name: String): Path =
    if (name.isEmpty) version else new Path(version, name)

  /** Staged publish of version `v` stamped with `batchId`, then prune
    * to the newest `keep` versions. Each named frame lands in its own
    * subdir of the version; one rename exposes them all together. */
  private def publish(spark: SparkSession, fs: FileSystem, dir: String,
                      frames: Seq[(String, DataFrame)], v: Int,
                      batchId: Long, keep: Int = 2): Unit = {
    val d = new Path(dir)
    fs.mkdirs(d)
    val staging = new Path(d, s".staging-v$v")
    fs.delete(staging, true)
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(frameDir(staging, name).toString)
    }
    val target = new Path(d, s"v${v}_b$batchId")
    fs.delete(target, true)
    require(fs.rename(staging, target),
      s"versioned state: failed to publish $target")
    versions(fs, dir).dropRight(keep).foreach { case (ov, ob) =>
      fs.delete(new Path(d, s"v${ov}_b$ob"), true)
      ()
    }
  }
}
