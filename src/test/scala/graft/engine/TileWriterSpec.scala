package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.{Fs, JobConfig}
import graft.sinks.{PbfReader, TileSink}
import graft.synth.SynthDem
import java.nio.file.Files

/** The writer's layout contract: a tile is written by the one partition
  * its ids were counted in, and any other layout is refused by name. */
class TileWriterSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("tile-writer-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = JobConfig(area = Some("6.0:43.0:6.25:43.25"), maxNodesPerTile = 20000L)

  /** Tasks of a failed job may still be cleaning up when the job's error
    * reaches the driver. */
  private def awaitIdle(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  private def name(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Names of the tile files in dir. */
  private def tileFiles(dir: String): Seq[String] =
    Fs.listFiles(dir).map(name).filter(_.endsWith(".pbf"))

  test("a tile whose rows span two partitions is refused by name, and nothing is left written") {
    val dir = Files.createTempDirectory("tile-writer").toString
    try {
      val dem = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(dem), cfg), cfg).persist()
      try {
        val offs = RasterPipeline.idOffsets(cs, cfg)
        assert(offs.size >= 2)
        // round-robin: every tile with two or more rows spans both partitions
        val split = cs.repartition(2)
        val out = s"$dir/split"
        val err = intercept[Exception](
          RasterPipeline.writeOsmXml(split, offs, out, cfg, commit = true, format = TileSink.PbfFormat))
        assert(err.getMessage.matches("(?s).*tile N43E006#\\d+: .*"), err.getMessage)
        awaitIdle()
        assert(Checkpoint.readCommits(out).isEmpty)
        assert(tileFiles(out).isEmpty)
        // ids are never counted from such a layout either
        val countErr = intercept[Exception](RasterPipeline.idOffsets(split, cfg))
        assert(countErr.getMessage.matches("(?s).*tile N43E006#\\d+: .*"), countErr.getMessage)

        // the traced layout writes each tile once, at the ids it was given
        val files = RasterPipeline.writeOsmXml(cs, offs, out, cfg, commit = true, format = TileSink.PbfFormat)
        assert(files.size == offs.size && files.map(name).toSet == tileFiles(out).toSet)
        assert(Checkpoint.readCommits(out).map(c => (c.key, c.tileIdx)).toSet == offs.keySet)
        Checkpoint.readCommits(out).foreach { c =>
          val o = offs((c.key, c.tileIdx))
          val ids = PbfReader.decode(Fs.readAllBytes(c.file)).nodes.map(_._1)
          assert(ids == (o.nodeStart until o.nodeStart + o.nodes))
        }
      } finally cs.unpersist()
    } finally Fs.deleteRecursive(dir)
  }

  test("rows out of (elevation, pathIdx) order within a tile are refused by name") {
    val dir = Files.createTempDirectory("tile-writer-order").toString
    try {
      val dem = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(dem), cfg), cfg).persist()
      try {
        val offs = RasterPipeline.idOffsets(cs, cfg)
        // same partitions and tile runs, paths reversed inside each tile
        val reversed = cs.sortWithinPartitions(cs("key"), cs("tileIdx"), cs("elevation").desc, cs("pathIdx"))
        val out = s"$dir/out"
        val err = intercept[Exception](
          RasterPipeline.writeOsmXml(reversed, offs, out, cfg, format = TileSink.PbfFormat))
        assert(err.getMessage.matches("(?s).*tile N43E006#\\d+: path .*"), err.getMessage)
        awaitIdle()
        assert(tileFiles(out).isEmpty)
      } finally cs.unpersist()
    } finally Fs.deleteRecursive(dir)
  }

  test("a resumed run rewrites a lost tile byte-identically, at the ids the committed tiles leave it") {
    val dir = Files.createTempDirectory("tile-writer-resume").toString
    try {
      val dem = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val out = s"$dir/out"
      val fresh = RasterPipeline.runResumable(spark, Seq(dem), out, cfg, TileSink.PbfFormat)
      assert(fresh.tilesTotal >= 3 && fresh.tilesWritten == fresh.tilesTotal)
      // a middle tile: committed tiles on both sides of it in id order
      val lost = Checkpoint.readCommits(out).sortBy(c => (c.key, c.tileIdx)).apply(fresh.tilesTotal / 2)
      val bytes = Fs.readAllBytes(lost.file)
      Checkpoint.deleteCommit(out, lost.key, lost.tileIdx)
      Fs.delete(lost.file)
      val resumed = RasterPipeline.runResumable(spark, Seq(dem), out, cfg, TileSink.PbfFormat)
      assert(resumed.tilesWritten == 1 && resumed.tilesSkipped == fresh.tilesTotal - 1)
      assert(java.util.Arrays.equals(Fs.readAllBytes(lost.file), bytes))
    } finally Fs.deleteRecursive(dir)
  }
}
