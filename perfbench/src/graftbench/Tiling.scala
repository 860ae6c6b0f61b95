package graftbench

import org.apache.spark.sql.SparkSession
import graft.core._
import graft.engine.RasterPipeline
import graft.sinks.TileSink
import graft.synth.SynthDem

/** `tiling`: pyhgtmap's own job. One pass is `RasterPipeline.runResumable`
  * into a fresh directory over a fresh copy of seeded SynthDem SRTM3 tiles,
  * with the reference's PACA anchor parameters (step 10, RDP 1e-5, PBF). */
final class Tiling(seed: Long, work: String, cores: Int) extends Workload {
  import Tiling._
  type Out = Tiling.Out

  val files: Seq[String] = window(seed).map { case (lat, lon) =>
    SynthDem.writeHgt(s"$work/dem", lat, lon)
  }
  /** Counts the pipeline must reproduce, computed at the first check. */
  private lazy val expected: Counts = oracle(files, cores)
  private var passNo = 0
  /** The next pass's directory, with its own copy of the input files. */
  private var next: (String, Seq[String]) = ("", Nil)

  def setup(spark: SparkSession): Unit = ()

  /** A fresh copy of the inputs under a new path, so the engine's grid
    * cache (keyed by path) misses on the trace side as in one real run. */
  private def freshInputs(): (String, Seq[String]) = {
    passNo += 1
    val dir = s"$work/pass$passNo"
    Fs.mkdirs(s"$dir/dem")
    dir -> files.map { f =>
      val copy = s"$dir/dem/${new java.io.File(f).getName}"
      Fs.writeBytes(copy, Fs.readAllBytes(f))
      copy
    }
  }

  override def prepare(): Unit = next = freshInputs()

  def pass(spark: SparkSession, tr: Tracer): Out = {
    val (dir, inputs) = next
    val report = tr.span("engine.raster.runResumable")(
      RasterPipeline.runResumable(spark, inputs, s"$dir/out", Cfg, format = TileSink.PbfFormat))
    Out(dir, report)
  }

  /** The stage breakdown: the public stage calls of `runResumable`, one
    * span each, forced one at a time so each span holds its own stage. The
    * counters cover the trace stage only. */
  private def stagedRun(spark: SparkSession, tr: Tracer, counters: SparkCounters): Out = {
    val (dir, inputs) = freshInputs()
    val outDir = s"$dir/out"
    Fs.mkdirs(outDir)
    val tiles = tr.span("engine.raster.tiles") {
      val t = RasterPipeline.tiles(spark, inputs, Cfg).persist()
      t.count()
      t
    }
    counters.start()
    val cs = tr.span("engine.raster.trace") {
      val c = RasterPipeline.contours(tiles, Cfg).persist()
      c.count()
      c
    }
    counters.stop(spark.sparkContext)
    try {
      val offs = tr.span("engine.raster.ids")(RasterPipeline.idOffsets(cs, Cfg))
      val written = tr.span("engine.raster.sink")(
        RasterPipeline.writeOsmXml(cs, offs, outDir, Cfg, commit = true, format = TileSink.PbfFormat))
      val n = tiles.count().toInt
      Out(dir, RasterPipeline.RunReport(n, 0, written.size, written))
    } finally { cs.unpersist(); tiles.unpersist() }
  }

  def check(o: Out): Seq[String] = {
    val got = countAll(o.report.files, cores)
    val problems = Seq.newBuilder[String]
    if (o.report.tilesTotal != expected.tiles || o.report.tilesWritten != expected.tiles || o.report.tilesSkipped != 0)
      problems += s"tiles total/written/skipped ${o.report.tilesTotal}/${o.report.tilesWritten}/" +
        s"${o.report.tilesSkipped}, expected ${expected.tiles}/${expected.tiles}/0"
    if (got.nodes != expected.nodes || got.ways != expected.ways)
      problems += s"decoded PBF holds ${got.nodes} nodes / ${got.ways} ways, expected ${expected.nodes} / ${expected.ways}"
    Pinned.tiling(seed).filter(_ != expected).foreach(p => problems += s"counts $expected differ from the pinned $p")
    problems.result()
  }

  override def discard(o: Out): Unit = Fs.deleteRecursive(o.dir)

  def items(o: Out): Double = expected.nodes.toDouble

  def layers(spark: SparkSession, o: Out, tr: Tracer, counters: SparkCounters,
      untracedWall: Double): Seq[(String, Double, String)] = {
    val bytes = o.report.files.map(Fs.fileLength).sum
    val staged = stagedRun(spark, tr, counters)
    try {
      val problems = check(staged)
      require(problems.isEmpty, s"staged pass: ${problems.mkString("; ")}")
    } finally discard(staged)
    val stages = Seq("tiles", "trace", "ids", "sink").map(s => s -> tr.seconds(s"engine.raster.$s").sum)
    stages.map { case (s, v) => (s"engine.raster.${s}_s", v, "s") } ++ Seq(
      // what the untraced runResumable spends outside the four stage calls
      ("engine.raster.resume_overhead_s", untracedWall - stages.map(_._2).sum, "s"),
      ("engine.raster.tiles", expected.tiles.toDouble, "count"),
      ("engine.raster.ways", expected.ways.toDouble, "count"),
      ("engine.raster.nodes", expected.nodes.toDouble, "count"),
      ("engine.raster.trace_task_max_over_median", counters.taskMaxOverMedian(cores), "ratio"),
      ("sinks.out_bytes_per_node", bytes.toDouble / expected.nodes, "B/node"),
      ("input.files", files.size.toDouble, "count"))
  }
}

object Tiling {
  /** Reference PACA anchor (README of pyhgtmap): step 10, RDP 1e-5, PBF;
    * chopped at 250 k nodes per tile, so one file gives 16 tiles. At the
    * default 1 M a pass has 4 tiles, and how their 4 keys hash onto 4
    * writer partitions, a matter of the seed, set the wall (3.2 s or
    * 4.4 s). */
  val Cfg: JobConfig = JobConfig(contourStepSize = 10, rdpEpsilon = Some(0.00001), maxNodesPerTile = 250000L)
  /** SRTM3 files per pass. */
  val Files = 1

  final case class Counts(tiles: Int, ways: Long, nodes: Long)
  final case class Out(dir: String, report: RasterPipeline.RunReport)

  /** The seed picks a row of adjacent 1-degree tiles anywhere in
    * lat 0..59, lon 0..169. */
  def window(seed: Long): Seq[(Int, Int)] = {
    val rnd = new java.util.Random(seed * 0x9e3779b97f4a7c15L + 17)
    val lat = rnd.nextInt(60)
    val lon = rnd.nextInt(170)
    (0 until Files).map(k => (lat, lon + k))
  }

  /** Tile, way and node counts from the pure `core` kernels in this JVM
    * (no Spark): decode, chop and trace each tile the way the pipeline
    * must. */
  def oracle(files: Seq[String], threads: Int): Counts = {
    val perTile = Par.map(files.flatMap { f =>
      val g = Hgt.decode(Fs.readAllBytes(f), Cfg.voidMax)
      val bbox = Hgt.parseHgtFilename(f)
      val lonInc = (bbox.maxLon - bbox.minLon) / (g.cols - 1)
      val latInc = (bbox.maxLat - bbox.minLat) / (g.rows - 1)
      val start = Chop.truncate(None, bbox, g.rows, g.cols, lonInc, latInc)
      Chop.chop(g, start, latInc, Cfg.contourStepSize, Cfg.maxNodesPerTile).map(s => (g, s, lonInc, latInc))
    }, threads) { case (g, s, lonInc, latInc) =>
      val gv = new MarchingSquares.GridView(g.values, g.mask, s.rowOff * g.cols + s.colOff, g.cols, s.rows, s.cols)
      val tc = ContourGen.tileContours(gv, s.bbox, lonInc, latInc, Cfg)
      (tc.nbWays, tc.nbNodes)
    }
    Counts(perTile.size, perTile.map(_._1).sum, perTile.map(_._2).sum)
  }

  /** Node and way totals of the written files. */
  def countAll(files: Seq[String], threads: Int): Counts = {
    val per = Par.map(files, threads) { f =>
      PbfCount(Fs.readAllBytes(f))
    }
    Counts(files.size, per.map(_._2).sum, per.map(_._1).sum)
  }
}

/** A streaming OSM PBF reader that only counts: every blob is framed and
  * inflated, every primitive group walked, and the dense-node ids and ways
  * counted. Written apart from `graft.sinks.PbfReader`, whose materialising
  * decode is too slow to run on every pass (it indexes a List per node). */
object PbfCount {
  private final class In(val b: Array[Byte], var pos: Int, val end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L; var x = 0
      do { x = b(pos) & 0xff; v |= (x & 0x7fL) << shift; shift += 7; pos += 1 } while ((x & 0x80) != 0)
      v
    }
    /** The next length-delimited field, as a reader over its bytes. */
    def sub(): In = { val n = varint().toInt; val r = new In(b, pos, pos + n); pos += n; r }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalStateException(s"PBF wire type $w")
    }
    /** Number of varints in a packed field. */
    def packedCount(): Long = {
      val s = sub(); var n = 0L
      while (s.more) { if ((b(s.pos) & 0x80) == 0) n += 1; s.pos += 1 }
      n
    }
  }

  /** (nodes, ways) in one PBF file. */
  def apply(file: Array[Byte]): (Long, Long) = {
    var nodes = 0L; var ways = 0L
    var pos = 0
    while (pos < file.length) {
      val hlen = java.nio.ByteBuffer.wrap(file, pos, 4).getInt
      val header = new In(file, pos + 4, pos + 4 + hlen)
      var kind = ""; var size = 0
      while (header.more) {
        val k = header.varint()
        (k >> 3).toInt match {
          case 1 => val s = header.sub(); kind = new String(file, s.pos, s.end - s.pos, "UTF-8")
          case 3 => size = header.varint().toInt
          case _ => header.skip((k & 7).toInt)
        }
      }
      val blob = new In(file, header.end, header.end + size)
      pos = blob.end
      var raw: Array[Byte] = null; var rawSize = 0; var z: In = null
      while (blob.more) {
        val k = blob.varint()
        (k >> 3).toInt match {
          case 1 => val s = blob.sub(); raw = java.util.Arrays.copyOfRange(file, s.pos, s.end)
          case 2 => rawSize = blob.varint().toInt
          case 3 => z = blob.sub()
          case _ => blob.skip((k & 7).toInt)
        }
      }
      if (raw == null) {
        val inf = new java.util.zip.Inflater()
        inf.setInput(file, z.pos, z.end - z.pos)
        raw = new Array[Byte](rawSize)
        var got = 0
        while (got < rawSize && !inf.finished()) got += inf.inflate(raw, got, rawSize - got)
        inf.end()
        require(got == rawSize, s"PBF blob inflated to $got of $rawSize bytes")
      }
      if (kind == "OSMData") {
        val block = new In(raw, 0, raw.length)
        while (block.more) {
          val k = block.varint()
          if ((k >> 3) == 2) {
            val group = block.sub()
            while (group.more) {
              val g = group.varint()
              (g >> 3).toInt match {
                case 2 =>
                  val dense = group.sub()
                  while (dense.more) {
                    val d = dense.varint()
                    if ((d >> 3) == 1) nodes += dense.packedCount() else dense.skip((d & 7).toInt)
                  }
                case 3 => ways += 1; group.skip(2)
                case _ => group.skip((g & 7).toInt)
              }
            }
          } else block.skip((k & 7).toInt)
        }
      }
    }
    (nodes, ways)
  }
}
