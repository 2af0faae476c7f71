package graft.operators

import org.apache.spark.sql.DataFrame

/** Versioned persisted-state ladder for streaming operators whose
  * state advances once per micro-batch: published snapshots live
  * under `v<version>_b<producingBatchId>` directories, a replayed
  * batch resolves to the version BEFORE the one it produced (the
  * input its original run saw) and skips the advance, and one prior
  * version is retained for exactly that replay. Shared by the corpus
  * state of [[Curation.maintenanceStep]] (five named frames per
  * version) and the dim-state streams ([[TextOps.startSpanDedup]],
  * [[Sampling.startStratifiedSample]]; one frame at the version dir).
  *
  * Crash seams: publish is staged-then-renamed, so a half-written
  * snapshot is never resolvable; whichever prefix of {results write,
  * state publish} a crash leaves, the replay recomputes from the
  * same resolved version and overwrites.
  */
private[graft] object VersionedState {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private val Name = "^v(\\d+)_b(-?\\d+)$".r

  def fsOf(spark: org.apache.spark.sql.SparkSession,
           dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The published (version, producing-batch) ladder, ascending. */
  def versions(fs: FileSystem, dir: String): Seq[(Int, Long)] = {
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
  def init(spark: org.apache.spark.sql.SparkSession, dir: String,
           frames: Seq[(String, DataFrame)]): Unit = {
    val fs = fsOf(spark, dir)
    require(versions(fs, dir).isEmpty,
      s"versioned state: $dir already initialized")
    publish(spark, fs, dir, frames, 0, -1L, keep = 1)
  }

  /** Replay-aware resolution for `batchId`: (version to read, its
    * producing batch, alreadyCommitted). Stream batch ids only grow,
    * so a `batchId` at or below the newest version's producing batch
    * is a replay of a batch whose advance committed: it resolves to
    * the newest version produced BEFORE it (the input its original
    * run saw), and when none survives the replay cannot reproduce
    * its input and fails fast. A newer `batchId` reads the newest
    * version and advances it.
    */
  def resolve(fs: FileSystem, dir: String,
              batchId: Long): (Int, Long, Boolean) = {
    val vs = versions(fs, dir)
    require(vs.nonEmpty,
      s"versioned state: nothing published under $dir — bootstrap " +
        "with init first")
    if (vs.last._2 < batchId) (vs.last._1, vs.last._2, false)
    else {
      val prior = vs.filter(_._2 < batchId)
      require(prior.nonEmpty,
        s"versioned state: replay of batch $batchId under $dir but " +
          "no prior version survives — cannot reproduce its input")
      (prior.last._1, prior.last._2, true)
    }
  }

  /** Frame `name` of version `v` (produced by batch `b`); the frame
    * named "" is the version dir itself. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
           v: Int, b: Long, name: String = ""): DataFrame =
    spark.read.parquet(frameDir(new Path(dir, s"v${v}_b$b"), name).toString)

  private def frameDir(version: Path, name: String): Path =
    if (name.isEmpty) version else new Path(version, name)

  /** Staged publish of version `v` stamped with `batchId`, then prune
    * to the newest `keep` versions. Each named frame lands in its own
    * subdir of the version, the frame named "" at the version dir
    * itself; one rename exposes them all together. */
  def publish(spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
              dir: String, frames: Seq[(String, DataFrame)], v: Int,
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
