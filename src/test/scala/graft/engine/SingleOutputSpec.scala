package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.{BBox, JobConfig}
import graft.sinks.OsmStats
import graft.synth.SynthDem
import java.nio.file.{Files, Paths}

/** Single-output mode: multiple input files merge into ONE file with all
  * nodes preceding all ways and globally contiguous ids (reference
  * processor.py:273-336, tests/hgt/test_processor.py single-output case). */
class SingleOutputSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("single-output-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("two files, multiple tiles -> one merged output, nodes before ways") {
    val f1 = "/root/reference/tests/data/N43E006.hgt"
    val f2 = "/root/reference/tests/data/N43E007.hgt"
    assume(Files.exists(Paths.get(f1)) && Files.exists(Paths.get(f2)))
    val cfg = JobConfig(area = Some("6.3:43.2:7.7:43.5"),
      maxNodesPerTile = 30000L, maxNodesPerWay = 2000, rdpEpsilon = None)
    val outDir = Files.createTempDirectory("singleout").toString
    val ts = RasterPipeline.tiles(spark, Seq(f1, f2), cfg)
    val cs = RasterPipeline.contours(ts, cfg).persist()
    val offs = RasterPipeline.idOffsets(cs, cfg)
    assert(offs.size > 2, "need multiple tiles for the merge to be meaningful")
    val expectedNodes = cs.groupBy().sum("nbNodes").collect()(0).getLong(0)
    val expectedWays = cs.count()
    val files = RasterPipeline.writeOsmXml(
      cs, offs, outDir, cfg,
      singleFileName = Some("merged.osm"),
      singleBBox = Some(BBox(6.3, 43.2, 7.7, 43.5)))
    cs.unpersist()
    assert(files == Seq(s"$outDir/merged.osm"))
    val stats = OsmStats.count(files.head)
    assert(stats.nodes == expectedNodes)
    assert(stats.ways == expectedWays)
    val content = new String(Files.readAllBytes(Paths.get(files.head)), "UTF-8")
    // exactly one preamble/bounds, all nodes precede all ways
    assert("<osm version=".r.findAllIn(content).size == 1)
    assert(content.lastIndexOf("<node id=") < content.indexOf("<way id="))
    assert(content.contains("""<bounds minlat="43.2000000" minlon="6.3000000""""))
    // globally contiguous node ids from the configured start
    val ids = "<node id=\"(\\d+)\"".r.findAllMatchIn(content).map(_.group(1).toLong).toSeq
    assert(ids.head == cfg.startNodeId)
    assert(ids == (ids.head until ids.head + ids.size))
  }

  test("two synthetic files, multiple tiles -> runSingle writes one merged output") {
    val dir = Files.createTempDirectory("singleout-synth").toString
    try {
      val f1 = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val f2 = SynthDem.writeHgt(s"$dir/dem", 43, 7)
      // the area straddles the two files' shared edge at lon 7
      val cfg = JobConfig(area = Some("6.85:43.1:7.15:43.3"),
        maxNodesPerTile = 30000L, maxNodesPerWay = 2000, rdpEpsilon = None)
      val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(f1, f2), cfg), cfg).persist()
      val (expectedNodes, expectedWays, sources, tiles) =
        try (cs.groupBy().sum("nbNodes").collect()(0).getLong(0), cs.count(),
          cs.select("key").distinct().count(), cs.select("key", "tileIdx").distinct().count())
        finally cs.unpersist()
      assert(sources == 2 && tiles > 2, "need tiles of both files for the merge to be meaningful")

      val files = RasterPipeline.runSingle(spark, Seq(f1, f2), s"$dir/out", cfg)
      assert(files.size == 1)
      val stats = OsmStats.count(files.head)
      assert(stats.nodes == expectedNodes)
      assert(stats.ways == expectedWays)
      val content = new String(Files.readAllBytes(Paths.get(files.head)), "UTF-8")
      assert("<osm version=".r.findAllIn(content).size == 1)
      assert(content.lastIndexOf("<node id=") < content.indexOf("<way id="))
      val ids = "<node id=\"(\\d+)\"".r.findAllMatchIn(content).map(_.group(1).toLong).toSeq
      assert(ids.head == cfg.startNodeId)
      assert(ids == (ids.head until ids.head + ids.size))
    } finally graft.core.Fs.deleteRecursive(dir)
  }
}
