package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.engine.RasterPipeline
import graft.synth.SynthDem
import java.nio.file.Files

/** The PBF sink against the tracer at full scale: every tile file of one
  * SynthDem SRTM3 tile (about 3.6 M nodes) decodes through PbfReader to
  * exactly the contours the core kernels trace for it — node ids and
  * quantized coordinates, way ids, refs and tags. */
class PbfRoundTripSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("pbf-round-trip-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = JobConfig(contourStepSize = 10, rdpEpsilon = Some(0.00001), maxNodesPerTile = 250000L)

  test("a full SynthDem tile decodes through PbfReader to the traced contours") {
    val dir = Files.createTempDirectory("pbf-round-trip").toString
    try {
      val dem = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val report = RasterPipeline.runResumable(spark, Seq(dem), s"$dir/out", cfg, TileSink.PbfFormat)
      val g = Hgt.decode(Fs.readAllBytes(dem), cfg.voidMax)
      val bbox = Hgt.parseHgtFilename(dem)
      val lonInc = (bbox.maxLon - bbox.minLon) / (g.cols - 1)
      val latInc = (bbox.maxLat - bbox.minLat) / (g.rows - 1)
      val slices = Chop.chop(g, Chop.truncate(None, bbox, g.rows, g.cols, lonInc, latInc),
        latInc, cfg.contourStepSize, cfg.maxNodesPerTile)
      assert(report.files.size == slices.size)
      val classifier = Levels.elevClassifier(cfg.lineCatsMajor, cfg.lineCatsMedium) _
      // ids run on across the tiles in (key, tileIdx) order
      var nodeId = cfg.startNodeId
      var wayId = cfg.startWayId
      slices.foreach { s =>
        val gv = new MarchingSquares.GridView(g.values, g.mask, s.rowOff * g.cols + s.colOff, g.cols, s.rows, s.cols)
        val tc = ContourGen.tileContours(gv, s.bbox, lonInc, latInc, cfg)
        val file = s"$dir/out/${TileSink.fileName(s.bbox, "N43E006", TileSink.PbfFormat)}"
        val dec = PbfReader.decode(Fs.readAllBytes(file))
        var ni = 0
        var wi = 0
        tc.contours.foreach { lc =>
          lc.paths.foreach { p =>
            val n = p.length / 2
            val closed = n >= 2 && p(0) == p(2 * (n - 1)) && p(1) == p(2 * (n - 1) + 1)
            val emitted = if (closed) n - 1 else n
            val first = nodeId
            var i = 0
            while (i < emitted) {
              assert(dec.nodes(ni) == ((nodeId, O5m.quantize(p(2 * i)), O5m.quantize(p(2 * i + 1)))))
              nodeId += 1; ni += 1; i += 1
            }
            val (id, refs, tags) = dec.ways(wi)
            assert(id == wayId)
            assert(refs == (first until nodeId) ++ (if (closed) Seq(first) else Nil))
            assert(tags == Seq("ele" -> lc.elevation.toString, "contour" -> "elevation",
              "contour_ext" -> classifier(lc.elevation)))
            wayId += 1; wi += 1
          }
        }
        assert(ni == dec.nodes.size && wi == dec.ways.size, file)
      }
      assert(nodeId - cfg.startNodeId > 3000000L)
    } finally Fs.deleteRecursive(dir)
  }
}
