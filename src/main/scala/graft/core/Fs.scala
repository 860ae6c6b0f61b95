package graft.core

import java.io.{InputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** All executor/driver file I/O goes through the Hadoop FileSystem API so
  * the pipeline behaves identically on local-FS (tests, local[N]) and on a
  * real cluster filesystem (HDFS, S3A, GCS): grid reads, tile sink writes,
  * and the checkpoint commit log all resolve their FileSystem from the
  * path's scheme. Plain paths (no scheme) resolve to the default FS, which
  * in local mode is file://. */
object Fs {

  /** Hadoop configuration honoring Spark's `spark.hadoop.*` overrides:
    * executors have no active SparkSession, but SparkEnv carries the
    * SparkConf, so credentials/endpoints configured via spark-submit reach
    * the sink/commit/grid I/O on every node. */
  private def conf: Configuration = {
    val c = new Configuration()
    val env = org.apache.spark.SparkEnv.get
    if (env != null) {
      env.conf.getAll.foreach { case (k, v) =>
        if (k.startsWith("spark.hadoop.")) c.set(k.stripPrefix("spark.hadoop."), v)
      }
    }
    c
  }

  def fs(path: String): FileSystem = {
    new Path(path).getFileSystem(conf) match {
      // local FS: use the raw (checksum-free) variant — sink outputs are
      // consumer-facing files (osmium etc.) and the commit log relies on
      // exact directory listings, so no .crc sidecars. getRaw avoids
      // mutating checksum flags on the JVM-wide cached FileSystem.
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }
  }

  def create(path: String): OutputStream = fs(path).create(new Path(path), true)

  def open(path: String): InputStream = fs(path).open(new Path(path))

  def readAllBytes(path: String): Array[Byte] = {
    val p = new Path(path)
    val f = fs(path)
    val len = f.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$path too large to buffer: $len bytes")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0L, buf)
    finally in.close()
    buf
  }

  def readString(path: String): String =
    new String(readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  def writeString(path: String, s: String): Unit = {
    val out = create(path)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fs(path).mkdirs(p)
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(path).exists(p)
  }

  /** File length, or -1 when absent / not a file. */
  def fileLength(path: String): Long = {
    val p = new Path(path)
    val f = fs(path)
    if (!f.exists(p)) return -1L
    val st = f.getFileStatus(p)
    if (st.isFile) st.getLen else -1L
  }

  def delete(path: String): Boolean = {
    val p = new Path(path)
    fs(path).delete(p, false)
  }

  /** Recursive delete for DIRECTORY cleanup (stale stage/publish dirs).
    * The non-recursive `delete` throws on a non-empty directory — exactly
    * the state a crashed publish leaves behind. */
  def deleteRecursive(path: String): Boolean = {
    val p = new Path(path)
    fs(path).delete(p, true)
  }

  /** Atomic-as-the-FS-allows rename (HDFS: atomic; S3A: copy+delete). */
  def rename(src: String, dst: String): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    val f = fs(src)
    f.delete(d, false)
    if (!f.rename(s, d)) throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Publish rename that never deletes an existing destination: local FS
    * rename atomically replaces (same content in publish races, no
    * deleted-file window); HDFS-style FSes fail on an existing dst, which
    * callers treat as "another publisher won" after validating dst. The
    * delete-then-rename `rename` above is for paths that INTEND replace
    * (commit logs); using it for cache publishes opens a window where a
    * concurrently-published valid file is deleted. */
  def renameNoClobber(src: String, dst: String): Unit = {
    val f = fs(src)
    val d = new Path(dst)
    // An existing DIRECTORY destination must be refused up front:
    // RawLocalFileSystem.rename falls back to FileUtil.copy when the
    // native rename fails, and a copy onto an existing directory lands
    // src INSIDE dst as a nested subdir — a silent corruption for table
    // publishes. (A FILE destination keeps the local-FS atomic-replace /
    // HDFS-fail semantics the cache publishers rely on.)
    if (f.exists(d) && f.getFileStatus(d).isDirectory)
      throw new java.io.IOException(s"rename $src -> $dst: destination directory exists")
    if (!f.rename(new Path(src), d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Build-once cache-dir publish: if `dest` already carries the marker
    * file, reuse it; otherwise populate a caller-unique stage dir, drop
    * the marker, and publish with a no-clobber rename (the loser of a
    * concurrent race discards its stage and reads the winner's identical
    * content). Shared by every "derive a table once per input, reuse
    * across runs" site (q18's clustered table, q54's WARC framing).
    *
    * A marker-less `dest` (crashed earlier run) is treated as stale ONLY
    * after the no-clobber rename itself refuses — and then moved ASIDE
    * under a caller-unique name, never deleted in place: a delete keyed on
    * a moments-old marker check races a concurrent publisher's completed
    * rename and would tear a valid table out from under its readers.
    * Returns only when `dest/marker` verifiably exists; throws otherwise. */
  def publishOnce(dest: String, stageSuffix: String, marker: String = "_SUCCESS")(
      populate: String => Unit): Unit = {
    if (exists(s"$dest/$marker")) return
    val stage = s"$dest.$stageSuffix.stage"
    populate(stage)
    if (!exists(s"$stage/$marker")) writeString(s"$stage/$marker", "ok")
    val stageName = stage.split('/').last
    var attempt = 0
    var published = false
    while (!published && attempt < 3 && !exists(s"$dest/$marker")) {
      attempt += 1
      try {
        renameNoClobber(stage, dest)
        // belt for the exists->rename race inside renameNoClobber: a
        // RawLocalFileSystem fallback copy onto a dest that appeared
        // concurrently lands the stage NESTED inside it — detect the
        // nested dir by its marker and undo it (the winner's table is
        // already complete above it)
        val nested = s"$dest/$stageName"
        if (exists(s"$nested/$marker")) deleteRecursive(nested)
        else published = true
      } catch {
        case _: java.io.IOException =>
          if (!exists(s"$dest/$marker")) {
            // the failed rename proved a marker-less dir occupies dest:
            // move it aside (unique suffix; a concurrent publisher winning
            // this very rename is re-checked on the next loop pass)
            try renameNoClobber(dest, s"$stage.stale$attempt")
            catch { case _: java.io.IOException => () }
          }
      }
    }
    if (!published && exists(stage)) deleteRecursive(stage) // another publisher won
    (1 to attempt).foreach { i =>
      if (exists(s"$stage.stale$i")) deleteRecursive(s"$stage.stale$i")
    }
    if (!exists(s"$dest/$marker"))
      throw new java.io.IOException(
        s"publishOnce: $dest carries no $marker after publish (raced beyond retry budget?)")
  }

  /** Write raw bytes, truncating any existing file. */
  def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val out = create(path)
    try out.write(bytes) finally out.close()
  }

  /** Unique driver-local scratch directory under java.io.tmpdir (plan
    * dumps; pipeline outputs take caller-supplied roots on any Hadoop-FS
    * scheme instead). */
  def createTempDir(prefix: String): String = {
    val d = s"${sys.props("java.io.tmpdir").stripSuffix("/")}/$prefix-" +
      java.util.UUID.randomUUID().toString.take(12)
    mkdirs(d)
    d
  }

  /** Non-recursive file listing (names only). */
  def listFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.toString)
  }

  /** Non-recursive listing with lengths from the SAME listStatus round
    * trip (per-file fileLength() calls re-stat each path — O(n) RPCs an
    * object-store listing already answered). */
  def listFilesWithLen(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq.filter(_.isFile).map(s => (s.getPath.toString, s.getLen))
  }

  /** Like [[listFilesWithLen]] but also carrying the modification time —
    * still one listStatus round trip. For content fingerprints: a
    * regenerated file of the same name AND size still moves its mtime. */
  def listFilesWithStat(dir: String): Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq.filter(_.isFile)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
  }
}
