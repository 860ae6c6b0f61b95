package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.sinks.TileSink
import graft.synth.{Pages, SynthDem}

/** Single-layer probes of the traced run, the same on every workload:
  * `core` kernels and the `sinks` PBF writer on one thread without Spark,
  * and the `functions` expressions over a cached pages frame. Each probe
  * runs twice and keeps the second, warm, time. */
object Probes {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  private def warm[T](body: => T): (T, Double) = { timed(body); timed(body) }

  def run(spark: SparkSession, seed: Long, work: String, tr: Tracer): Seq[(String, Double, String)] = {
    val (lat, lon) = Tiling.window(seed).head
    val path = SynthDem.writeHgt(s"$work/probe", lat, lon)
    val bytes = Fs.readAllBytes(path)
    val cfg = Tiling.Cfg

    // core: HGT decode, several decodes per timing
    val reps = 8
    val (grid, decodeS) = tr.span("core.hgt_decode")(warm((1 to reps).map(_ => Hgt.decode(bytes, cfg.voidMax)).last))

    // core: levels -> marching squares -> RDP -> way split on a quarter tile
    val bbox = Hgt.parseHgtFilename(path)
    val lonInc = (bbox.maxLon - bbox.minLon) / (grid.cols - 1)
    val latInc = (bbox.maxLat - bbox.minLat) / (grid.rows - 1)
    val rows = grid.rows / 4 + 1
    val qbox = BBox(bbox.minLon, bbox.maxLat - (rows - 1) * latInc, bbox.maxLon, bbox.maxLat)
    val gv = new MarchingSquares.GridView(grid.values, grid.mask, 0, grid.cols, rows, grid.cols)
    val (tc, traceS) = tr.span("core.trace")(warm(ContourGen.tileContours(gv, qbox, lonInc, latInc, cfg)))

    // sinks: PBF encode of that quarter tile's contours
    val out = s"$work/probe/probe.pbf"
    val (_, sinkS) = tr.span("sinks.pbf_encode")(warm {
      val sink = TileSink.open(out, qbox, TileSink.PbfFormat)
      var nodeId = cfg.startNodeId
      val ways = tc.contours.flatMap { lc =>
        lc.paths.map { p =>
          val (next, way) = sink.writePath(p, nodeId, lc.elevation.toLong)
          nodeId = next
          way
        }
      }
      sink.finish(ways, cfg.startWayId, e => Levels.elevClassifier(cfg.lineCatsMajor, cfg.lineCatsMedium)(e.toInt))
    })
    val pbfBytes = Fs.fileLength(out)
    val (written, _) = PbfCount(Fs.readAllBytes(out))
    require(written == tc.nbNodes, s"probe PBF holds $written nodes, traced ${tc.nbNodes}")

    // functions: geocode (splitmix64 + cell id) and the text check over a
    // cached frame, so the timing holds the expressions and not the scan
    val n = 200000L
    import spark.implicits._
    val pagesDf = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => Pages.pageOf(i)).toDF().persist()
    pagesDf.count()
    graft.functions.WrapExtract.register(spark)
    val (_, geoS) = tr.span("functions.geocode_probe")(warm(
      Pages.geocoded(pagesDf, PagesJoin.Res).agg(sum("cell")).collect()))
    val (okRows, textS) = tr.span("functions.text_check_probe")(warm(
      pagesDf.agg(sum(when(PagesJoin.textOk, 1L).otherwise(0L))).collect()(0).getLong(0)))
    pagesDf.unpersist()
    require(okRows == n, s"text invariant broken on ${n - okRows} probe pages")

    Seq(
      ("core.hgt_decode_mb_per_s", bytes.length.toDouble * reps / decodeS / 1e6, "MB/s"),
      ("core.trace_nodes_per_s", tc.nbNodes / traceS, "nodes/s"),
      ("sinks.pbf_encode_mb_per_s", pbfBytes / sinkS / 1e6, "MB/s"),
      ("functions.geocode_rows_per_s", n / geoS, "rows/s"),
      ("functions.text_check_rows_per_s", n / textS, "rows/s"))
  }
}
