package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cells, Geometry, JobConfig}
import graft.engine.{RasterPipeline, SpatialJoin}
import graft.synth.{Pages, SynthDem}

/** `pages_join`: the north-star join. Set-up writes a seeded pages table
  * (url, warc_ts, html, text, lang) and traces the contour polygons. One
  * pass scans the table, geocodes it, joins it against the polygons on the
  * broadcast-cover path and on the salted path, and checks the per-url
  * extracted-text invariant on every joined row. */
final class PagesJoin(seed: Long, work: String, cores: Int) extends Workload {
  import PagesJoin._
  type Out = PagesJoin.Out

  private val pagesPath = s"$work/pages"
  /** The seed picks the page-id range: ids [first, first + N). */
  val firstId: Long = java.lang.Math.floorMod(seed, 1000L) * NPages
  var polys: Seq[SpatialJoin.Poly] = Nil
  /** Join rows the engine must return, computed at the first check. */
  private lazy val expectedRows: Long = oracleRows(firstId, polys, cores)

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    val first = firstId
    spark.range(first, first + NPages, 1, cores * 4).map(i => Pages.pageOf(i))
      .write.mode("overwrite").parquet(pagesPath)
    polys = pickPolygons(spark, seed, work)
  }

  private def scan(spark: SparkSession): DataFrame = {
    graft.functions.WrapExtract.register(spark)
    Pages.geocoded(spark.read.parquet(pagesPath), Res)
  }

  /** Joined rows and rows passing the text check, in one job. */
  private def joinCount(joined: DataFrame): (Long, Long) = {
    val r = joined.agg(count(lit(1)), sum(when(textOk, 1L).otherwise(0L))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def pass(spark: SparkSession, tr: Tracer): Out = {
    val pages = tr.span("functions.geocode")(scan(spark))
    val b = tr.span("engine.spatialjoin.bcast")(joinCount(SpatialJoin.pipJoin(pages, polys, Res)))
    val s = tr.span("engine.spatialjoin.salted")(joinCount(SpatialJoin.pipJoinSalted(pages, polys, Res, cores)))
    Out(b, s)
  }

  def check(o: Out): Seq[String] = {
    Seq(
      (o.bcast._1 == expectedRows) -> s"broadcast join rows ${o.bcast._1}, expected $expectedRows",
      (o.salted._1 == expectedRows) -> s"salted join rows ${o.salted._1}, expected $expectedRows",
      (o.bcast._2 == o.bcast._1) -> s"text invariant broken on ${o.bcast._1 - o.bcast._2} broadcast-joined rows",
      (o.salted._2 == o.salted._1) -> s"text invariant broken on ${o.salted._1 - o.salted._2} salted-joined rows",
      (expectedRows > 0) -> "vacuous join: 0 rows",
      Pinned.pagesJoin(seed).forall(_ == (polys.size.toLong, expectedRows)) ->
        s"${polys.size} polygons / $expectedRows rows differ from the pinned ${Pinned.pagesJoin(seed)}"
    ).collect { case (false, msg) => msg }
  }

  def items(o: Out): Double = NPages.toDouble

  override def warmPasses: Int = 3

  def layers(spark: SparkSession, o: Out, tr: Tracer, counters: SparkCounters,
      untracedWall: Double): Seq[(String, Double, String)] = {
    val pages = scan(spark)
    // candidates: rows the cover equi-join admits, before the PIP residual
    val candidates = tr.span("engine.spatialjoin.candidates")(
      pages.join(broadcast(SpatialJoin.coverDf(spark, polys, Res)), Seq("cell")).count())
    tr.span("functions.geocode_count")(pages.agg(sum("cell")).collect())
    val textOkRows = tr.span("functions.text_check") {
      spark.read.parquet(pagesPath).agg(sum(when(textOk, 1L).otherwise(0L))).collect()(0).getLong(0)
    }
    require(textOkRows == NPages, s"text invariant broken on ${NPages - textOkRows} scanned pages")
    // per-task skew of the salted join alone
    counters.start()
    joinCount(SpatialJoin.pipJoinSalted(pages, polys, Res, cores))
    counters.stop(spark.sparkContext)
    Seq(
      ("functions.geocode_s", tr.seconds("functions.geocode_count").sum, "s"),
      ("functions.text_check_s", tr.seconds("functions.text_check").sum, "s"),
      ("engine.spatialjoin.candidates", candidates.toDouble, "count"),
      ("engine.spatialjoin.rows", o.bcast._1.toDouble, "count"),
      ("engine.spatialjoin.pip_pass_ratio", o.bcast._1.toDouble / candidates, "ratio"),
      ("engine.spatialjoin.bcast_s", tr.seconds("engine.spatialjoin.bcast").sum, "s"),
      ("engine.spatialjoin.salted_s", tr.seconds("engine.spatialjoin.salted").sum, "s"),
      ("engine.spatialjoin.salted_task_max_over_median", counters.taskMaxOverMedian(cores), "ratio"),
      ("input.pages", NPages.toDouble, "count"),
      ("input.polygons", polys.size.toDouble, "count"),
      ("input.vertices", polys.map(_.coords.length / 2).sum.toDouble, "count"))
  }
}

object PagesJoin {
  val NPages = 500000L
  /** Cover-cell resolution: 1/128 degree. */
  val Res = 7
  /** Contour step of the polygon source, and how many polygons the seed
    * picks besides those around the hot cluster. */
  val PolyStep = 50
  val Sampled = 24
  /** The hot cluster of `Pages` (about a fifth of all pages). */
  val Hot = (6.255, 43.255)

  /** (joined rows, rows passing the text check) of each join path */
  final case class Out(bcast: (Long, Long), salted: (Long, Long))

  /** The per-url extracted-text invariant: the text extracted from the
    * stored html equals the text byte for byte, and so does the text
    * round-tripped through the engine's wrap+extract kernel. */
  val textOk: Column = {
    val inner = substring_index(substring_index(col("html").cast("string"), "<p>", -1), "</p>", 1)
    val extracted = replace(replace(inner, lit("&lt;"), lit("<")), lit("&amp;"), lit("&"))
    extracted === col("text") && call_function("wrap_extract", col("text"), col("url")) === col("text")
  }

  /** Closed contour rings traced by the engine from the SynthDem tile that
    * holds every page (lon 6..7, lat 43..44). Kept: every ring around the
    * hot cluster, so its fifth of the pages is joined and PIP-tested, plus
    * a seeded pick among the largest rings, whose bounding-box covers admit
    * pages the exact PIP residual then rejects. */
  def pickPolygons(spark: SparkSession, seed: Long, work: String): Seq[SpatialJoin.Poly] = {
    val file = SynthDem.writeHgt(s"$work/poly-dem", 43, 6)
    val cfg = JobConfig(contourStepSize = PolyStep, maxNodesPerTile = 0L, maxNodesPerWay = 0,
      rdpEpsilon = Some(0.0005))
    val rings = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(file), cfg), cfg)
      .filter(col("closed") && col("nbNodes") >= 8)
      .orderBy("elevation", "pathIdx")
      .collect()
      .map(_.coords)
      .toSeq
    val (hot, rest) = rings.partition(c => Geometry.contains(c, Hot._1, Hot._2))
    // one ring from each pair of neighbours in size order: the seed picks
    // the rings while the total area, and so the work, stays about the same
    val rnd = new scala.util.Random(seed)
    val picked = hot ++ rest.sortBy(c => -area(c)).grouped(2).take(Sampled).map(p => p(rnd.nextInt(p.size)))
    picked.zipWithIndex.map { case (c, i) => SpatialJoin.Poly(i.toLong, c) }
  }

  private def area(c: Array[Double]): Double = {
    val b = SpatialJoin.Poly(0, c).bbox
    (b.maxLon - b.minLon) * (b.maxLat - b.minLat)
  }

  /** Join rows computed without Spark, in this JVM: each page's geocode
    * from `Pages`, tested against every polygon whose bounding-box cover
    * holds its cell. */
  def oracleRows(first: Long, polys: Seq[SpatialJoin.Poly], threads: Int): Long = {
    val withCover = polys.map(p => (p.coords, p.bbox, Cells.cover(p.bbox, Res).toSet))
    val chunks = (first until first + NPages by 250000L).map(s => (s, math.min(s + 250000L, first + NPages)))
    Par.map(chunks, threads) { case (from, until) =>
      var n = 0L
      var i = from
      while (i < until) {
        val lon = Pages.lonOf(i)
        val lat = Pages.latOf(i)
        val cell = Cells.cellId(lon, lat, Res)
        withCover.foreach { case (c, b, cover) =>
          if (lon >= b.minLon && lon <= b.maxLon && lat >= b.minLat && lat <= b.maxLat &&
            cover.contains(cell) && Geometry.contains(c, lon, lat)) n += 1
        }
        i += 1
      }
      n
    }.sum
  }
}
