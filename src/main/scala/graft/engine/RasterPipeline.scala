package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core._
import graft.core.MarchingSquares.{GridView, Scratch}
import graft.sinks.{OsmXmlWriter, OsmXml, PreparedWay}

/** The distributed raster -> contour pipeline, re-expressing the reference's
  * fork-per-tile processor (/root/reference/pyhgtmap/hgt/processor.py) as
  * Spark stages:
  *
  *   binaryFile scan -> decode+chop (flatMap, executor-side recursion)
  *     -> Dataset[DemTileRow] (the tile IS the shuffle unit; upper chops
  *        keep one overlap row, the reference's stitching contract)
  *   -> repartitionByRange(salt, key, tileIdx) -> trace kernel
  *     (mapPartitions) -> ContourRows, cached once as objects
  *     (RDD, MEMORY_AND_DISK; no columnar re-encode): each tile's rows are
  *     contiguous in one partition, in (elevation, pathIdx) order
  *   -> per-partition counts (a fold + collect, no shuffle) -> driver
  *     prefix-sum -> deterministic node/way ids (reference reserves ranges
  *     via shared counters, processor.py:98-140; we pin the stronger
  *     sorted-tile order, SURVEY.md §4.3)
  *   -> per-tile files written by the trace partitions themselves, no
  *     writer shuffle (nodes first, ways buffered to done()). A tile whose
  *     rows are not where they were counted is refused loudly, never
  *     written twice or with shifted ids.
  *
  * At cluster scale: files and tiles are independent units; the only driver
  * synchronization is the tiny per-tile count collect for the prefix sum.
  */
object RasterPipeline {

  /** Lightweight tile spec: the shuffle unit carries offsets into its
    * source file, NOT the grid data — executors re-read + decode the
    * (small, page-cached) source locally, so the range shuffle moves only
    * metadata rows. At 100 TB this is the difference between shuffling
    * terabytes of raster and shuffling kilobytes of specs. */
  final case class DemTileRow(
      key: String,
      tileIdx: Int,
      path: String,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, // native CRS
      rowOff: Int, rows: Int, colOff: Int, cols: Int,
      fullCols: Int,
      lonInc: Double, latInc: Double,
      epsg: Int = 4326,
      // true when the tile straddles a clip-polygon border (reference
      // checkPoly): the trace stage recomputes the cell mask; fully-inside
      // tiles skip it, fully-outside tiles were dropped at plan time
      checkPoly: Boolean = false,
      // user-defined CRS spec (GeoTIFF ProjectedCSTypeGeoKey = 32767);
      // non-empty wins over `epsg` in every Crs dispatch below
      spec: String = "")

  final case class ContourRow(
      key: String,
      tileIdx: Int,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
      elevation: Int,
      pathIdx: Int,
      closed: Boolean,
      nbNodes: Int,
      coords: Array[Double])

  /** A tile's id ranges, with the counts and the trace partition they were
    * computed from: the writer refuses a tile found elsewhere or with other
    * counts (partition -1: a committed tile, never written again). */
  final case class TileOffsets(nodeStart: Long, wayStart: Long, nodes: Long, ways: Long, partition: Int)

  /** Nodes and ways of one tile, as counted in its trace partition. */
  private final case class TileCount(key: String, tileIdx: Int, nodes: Long, ways: Long, partition: Int)

  private def tileName(key: String, tileIdx: Int): String = s"$key#$tileIdx"

  /** Decode a DEM source (HGT or GeoTIFF) to (grid, native bbox, epsg).
    * GeoTIFF per reference init_as_geotiff (file.py:500-555); HGT per
    * init_as_hgt (file.py:449-498). */
  private def decodeDem(path: String, bytes: Array[Byte], voidMax: Int,
      smoothRatio: Double, feetSteps: Boolean,
      corrx: Double = 0.0, corry: Double = 0.0): (Grid, BBox, Int, String) = {
    val (raw, bbox0, epsg, spec) =
      if (Tiff.isTiff(path)) {
        val t = Tiff.decode(bytes, voidMax)
        // corrx/corry are WGS84 corrections; the reference round-trips
        // them through the CRS for projected sources (file.py:218-242) —
        // identity for 4326, and unsupported here for non-4326 (loud)
        val b = t.bbox
        require(t.epsg == 4326 || (corrx == 0.0 && corry == 0.0),
          "--corrx/--corry on non-4326 sources is unsupported")
        (t.grid, BBox(b.minLon + corrx, b.minLat + corry, b.maxLon + corrx, b.maxLat + corry),
          t.epsg, t.spec)
      } else
        (Hgt.decode(bytes, voidMax), Hgt.parseHgtFilename(path, corrx, corry), 4326, "")
    val zoomed = if (smoothRatio != 1.0) Resample.zoom(raw, smoothRatio) else raw
    val grid = if (feetSteps) Hgt.toFeet(zoomed) else zoomed
    (grid, bbox0, epsg, spec)
  }

  /** Cell mask of a tile slice vs the WGS84 clip polygons, CRS-aware.
    * Both strategies keep polygonMask's row-major per-axis factorization
    * (the grids are uniform in their OWN CRS), moving the reprojection to
    * whichever side is small:
    * - axis-separable source (4326/3857): reproject the grid AXES to
    *   lon/lat (lon = g(x), lat = h(y) holds) and test the polygons where
    *   they live — O(rows+cols) transforms;
    * - projected source (UTM/LCC/OSGB, where meridian convergence mixes
    *   axes): reproject the POLYGONS into the file CRS — per-vertex after
    *   densifying edges (Crs.densifyReproject; straight lon/lat edges
    *   curve under the projection) — and test on the native uniform axes.
    *   The polygon is small and broadcast; the raster never reprojects.
    *   PIP itself is CRS-agnostic. Reference polygon_mask instead
    *   transforms the whole meshgrid (file.py:310-365) — same semantics,
    *   O(polygon) instead of O(raster) transform work. */
  private def sliceMask(bbox: BBox, rows: Int, cols: Int, lonInc: Double, latInc: Double,
      epsg: Int, spec: String, polygons: Seq[Array[Double]]): Geometry.MaskResult = {
    val xs = Array.tabulate(cols)(c => bbox.minLon + c * lonInc)
    val ys = Array.tabulate(rows)(r => bbox.maxLat - r * latInc)
    Crs.toWgs84(epsg, spec) match {
      case None => Geometry.polygonMask(xs, ys, polygons)
      case Some(f) if Crs.axisSeparable(epsg, spec) =>
        Geometry.polygonMask(xs.map(x => f(x, 0.0)._1), ys.map(y => f(0.0, y)._2), polygons)
      case Some(_) =>
        // bboxExpand mirrors the reference's 0.1-degree clip margin in
        // this CRS's meters (the exact value only needs to be >= 0)
        Geometry.polygonMask(xs, ys, nativePolys(epsg, spec, polygons),
          bboxExpand = 0.1 * 111320.0)
    }
  }

  /** Densified clip polygons in the file CRS, memoized per (epsg,
    * polygon content) per JVM: sliceMask runs once per slice at plan
    * time and once per border tile at trace time, and a national-scale
    * clip ring densifies to 1e4-1e5 vertices each paying a TM/LCC
    * forward — identical work per tile without the memo. Content-hash
    * key (not identity): each task deserializes its own closure copy of
    * the polygons. The cache holds a handful of entries (one per clip
    * config per CRS actually seen by this executor). */
  private val nativePolyCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[Array[Double]]]()
  private def nativePolys(epsg: Int, spec: String,
      polygons: Seq[Array[Double]]): Seq[Array[Double]] = {
    var h = 1125899906842597L
    polygons.foreach { poly =>
      var i = 0
      while (i < poly.length) {
        h = h * 31 + java.lang.Double.doubleToLongBits(poly(i))
        i += 1
      }
      h = h * 31 + poly.length
    }
    nativePolyCache.computeIfAbsent((s"$epsg|$spec", h), _ => {
      val fwd = Crs.fromWgs84(epsg, spec).get
      polygons.map(poly => Crs.densifyReproject(poly, fwd))
    })
  }

  /** The clip polygons to apply for a source in `epsg`, folding `--area`
    * in for non-axis-separable CRSs: their grid cannot be cropped by
    * index on a WGS84 rect (meridian convergence tilts it), so the rect
    * becomes a mask polygon riding the same densify-reproject path as
    * --poly — cell-exact, strictly better than the reference's
    * corner-only reverseTransform (file.py:580-587). With --poly AND
    * --area, the polygons are clipped to the rect (intersection — the
    * area crops, never extends). Deterministic in (cfg, epsg): the plan
    * stage (tiles) and the trace stage (contours) derive identical
    * masks from it. */
  private def effectiveClip(cfg: JobConfig, epsg: Int,
      spec: String): Option[Seq[Array[Double]]] =
    cfg.area match {
      case Some(a) if !Crs.axisSeparable(epsg, spec) =>
        val rect = Crs.areaRectPolygon(a)
        cfg.polygons match {
          case None => Some(Seq(rect))
          case Some(ps) => Some(ps.flatMap(p =>
            Geometry.clipToRect(p, rect(0), rect(1), rect(4), rect(5))))
        }
      case _ => cfg.polygons
    }

  /** Scan + decode + chop: one lightweight spec row per tile. Clip-polygon
    * semantics follow the reference's make_tiles (file.py:732-768): tiles
    * fully outside the polygons are dropped here; border tiles are flagged
    * checkPoly and masked cell-wise at trace time. */
  def tiles(spark: SparkSession, paths: Seq[String], cfg: JobConfig): Dataset[DemTileRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(paths: _*)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val key = path.split('/').last.replaceAll("\\.(hgt|tif|tiff)$", "")
        val (grid, bbox, epsg, spec) =
          decodeDem(path, bytes, cfg.voidMax, cfg.smoothRatio, cfg.feetSteps, cfg.corrx, cfg.corry)
        val lonInc = (bbox.maxLon - bbox.minLon) / (grid.cols - 1)
        val latInc = (bbox.maxLat - bbox.minLat) / (grid.rows - 1)
        // native crop rect: exact for separable CRSs, envelope-superset
        // for projected ones (the area mask below trims it cell-exact)
        val nativeArea = cfg.area.map(a => Crs.nativeAreaString(a, epsg, spec))
        val start = Chop.truncate(nativeArea, bbox, grid.rows, grid.cols, lonInc, latInc)
        val slices = Chop.chop(grid, start, latInc, cfg.contourStepSize, cfg.maxNodesPerTile)
        val clip = effectiveClip(cfg, epsg, spec)
        slices.zipWithIndex.flatMap { case (s, idx) =>
          val checkPoly = clip match {
            case None => Some(false)
            case Some(polys) =>
              sliceMask(s.bbox, s.rows, s.cols, lonInc, latInc, epsg, spec, polys) match {
                case Geometry.AllOutside => None // drop: tile outside every polygon
                case Geometry.AllInside => Some(false)
                case _: Geometry.Mixed => Some(true)
              }
          }
          checkPoly.map { cp =>
            DemTileRow(key, idx, path, s.bbox.minLon, s.bbox.minLat, s.bbox.maxLon, s.bbox.maxLat,
              s.rowOff, s.rows, s.colOff, s.cols, grid.cols, lonInc, latInc, epsg, cp, spec)
          }
        }
      }
  }

  /** Executor-global decoded-grid cache: every task in the executor JVM
    * shares it, so each source file is read+decoded once per executor even
    * when salted partitioning interleaves files across tasks (the re-read
    * storm otherwise costs more than the trace at high parallelism).
    * Bounded LRU; entries are immutable Grids so sharing is safe. */
  private object GridCache {
    // bounded by estimated BYTES, not entry count: a smoothRatio-zoomed
    // SRTM1 grid is rows*cols*(2B values + 1B mask + overhead) ~ 5B/cell,
    // so counting entries could exceed executor heap at high ratios
    private val MaxBytes = sys.env.getOrElse("SPARK_GRAFT_GRID_CACHE_MB", "2048").toLong << 20
    private def est(g: Grid): Long = g.rows.toLong * g.cols * 5L
    private var bytes = 0L
    private val cache = new java.util.LinkedHashMap[String, Grid](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Grid]): Boolean = {
        val evict = size() > 1 && bytes > MaxBytes
        if (evict) bytes -= est(e.getValue)
        evict
      }
    }
    def grid(path: String, voidMax: Int, smoothRatio: Double, feetSteps: Boolean): Grid = {
      val key = s"$path|$voidMax|$smoothRatio|$feetSteps"
      cache.synchronized {
        val hit = cache.get(key)
        if (hit != null) return hit
      }
      // Hadoop FS read: source rasters live on the cluster FS, not on a
      // shared POSIX mount; binaryFile scan paths carry their scheme
      val bytesIn = graft.core.Fs.readAllBytes(path)
      val (g, _, _, _) = decodeDem(path, bytesIn, voidMax, smoothRatio, feetSteps)
      cache.synchronized {
        // re-check under the lock: concurrent misses on the same key would
        // otherwise each add est(g) while put() keeps only one entry,
        // permanently inflating the byte counter until the cache thrashes
        val winner = cache.get(key)
        if (winner != null) return winner
        bytes += est(g)
        cache.put(key, g)
      }
      g
    }
  }

  /** Trace contours per tile; explicit range-partitioned shuffle on the
    * tile key so each tile is processed exactly once, co-located. */
  def contours(tilesDs: Dataset[DemTileRow], cfg: JobConfig, partitions: Int = 0): Dataset[ContourRow] = {
    import tilesDs.sparkSession.implicits._
    traceLayout(tilesDs, partitions).mapPartitions(traceKernel(cfg))
  }

  /** The same trace as `contours`, as objects: nothing is encoded between
    * the kernel and the writer. */
  private def tracedRows(tilesDs: Dataset[DemTileRow], cfg: JobConfig): RDD[ContourRow] =
    traceLayout(tilesDs, 0).rdd.mapPartitions(traceKernel(cfg), preservesPartitioning = true)

  private def traceLayout(tilesDs: Dataset[DemTileRow], partitions: Int): Dataset[DemTileRow] = {
    val parts = if (partitions > 0) partitions else tilesDs.sparkSession.sessionState.conf.numShufflePartitions
    // explicit range-partitioned shuffle with a deterministic hash salt as
    // the leading key: per-tile trace cost is spatially correlated (all-sea
    // vs all-mountain neighbours), so pure (key, tileIdx) ranges produce
    // straggler partitions; the salt spreads hot regions evenly while
    // keeping assignment fully deterministic for checkpoint/resume
    tilesDs
      .repartitionByRange(parts, pmod(xxhash64(col("key"), col("tileIdx")), lit(1 << 20)),
        col("key"), col("tileIdx"))
      .sortWithinPartitions("path", "tileIdx") // group same-file tiles -> one decode
  }

  /** Trace one partition of tile specs; a tile's rows come out together,
    * in (elevation, pathIdx) order. */
  private def traceKernel(cfg: JobConfig): Iterator[DemTileRow] => Iterator[ContourRow] = {
    val voidMax = cfg.voidMax
    val smoothRatio = cfg.smoothRatio
    val feetSteps = cfg.feetSteps
    it => {
      val scratch = new Scratch
      it.flatMap { tr =>
        val g = GridCache.grid(tr.path, voidMax, smoothRatio, feetSteps)
        val base = tr.rowOff * tr.fullCols + tr.colOff
        // checkPoly: OR the polygon-outside mask into (a copy of) the
        // void mask for this tile's window — outside-polygon cells trace
        // like voids, the reference's border-tile semantics
        val clip = if (tr.checkPoly) effectiveClip(cfg, tr.epsg, tr.spec) else None
        val mask: Array[Boolean] =
          if (clip.isDefined) {
            sliceMask(BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat),
              tr.rows, tr.cols, tr.lonInc, tr.latInc, tr.epsg, tr.spec, clip.get) match {
              case Geometry.Mixed(pm) =>
                val m = if (g.mask != null) g.mask.clone() else new Array[Boolean](g.values.length)
                var r = 0
                while (r < tr.rows) {
                  var c = 0
                  while (c < tr.cols) {
                    if (pm(r * tr.cols + c)) m(base + r * tr.fullCols + c) = true
                    c += 1
                  }
                  r += 1
                }
                m
              case Geometry.AllOutside => // possible under re-chop drift; mask all
                val m = new Array[Boolean](g.values.length)
                java.util.Arrays.fill(m, true)
                m
              case Geometry.AllInside => g.mask
            }
          } else g.mask
        val gv = new GridView(g.values, mask, base, tr.fullCols, tr.rows, tr.cols)
        val bbox = BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat)
        // F10: non-4326 sources trace in native grid space; paths are
        // reprojected to WGS84 before RDP/split (reference order), and
        // the emitted row bbox is the reprojected tile bbox
        val xf = Crs.toWgs84(tr.epsg, tr.spec)
        val tc = ContourGen.tileContours(gv, bbox, tr.lonInc, tr.latInc, cfg, scratch, xf)
        // envelope, not the strict aligned-rectangle transform: UTM tiles
        // tilt under reprojection and the row bbox is naming metadata
        val obox = xf.map(Crs.envelopeBBox(bbox, _)).getOrElse(bbox)
        val (oMinLon, oMinLat, oMaxLon, oMaxLat) =
          (obox.minLon, obox.minLat, obox.maxLon, obox.maxLat)
        tc.contours.iterator.flatMap { lc =>
          lc.paths.iterator.zipWithIndex.map { case (p, i) =>
            val n = p.length / 2
            val closed = n >= 2 && p(0) == p(2 * (n - 1)) && p(1) == p(2 * (n - 1) + 1)
            ContourRow(tr.key, tr.tileIdx, oMinLon, oMinLat, oMaxLon, oMaxLat,
              lc.elevation, i, closed, if (closed) n - 1 else n, p)
          }
        }
      }
    }
  }

  /** Per-tile (nodes, ways) counts collected to the driver — tiny: one
    * row per tile, never raster data, and no shuffle: each partition folds
    * its own run of rows. This is the engine's one remaining O(tiles)
    * driver surface, kept deliberately: the deterministic prefix sum it
    * feeds (see prefixSum) is the id contract that makes resume
    * byte-identical, and the map it produces is broadcast to the writers.
    * Envelope: ~64 B/tile, so 10^7 tiles (a full-planet 100 TB DEM corpus
    * at 1-degree tiling) is ~0.6 GB driver heap — within a normal driver.
    * A tile whose rows are not contiguous in one partition is an error,
    * not a sum: its file would be written by two tasks. */
  private def tileCounts(rows: RDD[(String, Int, Int)]): Seq[TileCount] = {
    val counts = rows.mapPartitionsWithIndex { (part, it) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[TileCount]
      val seen = scala.collection.mutable.HashSet.empty[(String, Int)]
      var tile: (String, Int) = null
      var nodes = 0L
      var ways = 0L
      def emit(): Unit = if (tile != null) out += TileCount(tile._1, tile._2, nodes, ways, part)
      it.foreach { case (key, tileIdx, nbNodes) =>
        if (tile == null || key != tile._1 || tileIdx != tile._2) {
          emit()
          tile = (key, tileIdx)
          if (!seen.add(tile)) throw new IllegalStateException(
            s"tile ${tileName(key, tileIdx)}: its rows are not contiguous in partition $part")
          nodes = 0L
          ways = 0L
        }
        nodes += nbNodes
        ways += 1
      }
      emit()
      out.iterator
    }.collect().toSeq
    counts.groupBy(c => (c.key, c.tileIdx)).foreach { case ((key, tileIdx), cs) =>
      if (cs.size > 1) throw new IllegalStateException(
        s"tile ${tileName(key, tileIdx)}: rows in partitions ${cs.map(_.partition).sorted.mkString(", ")}")
    }
    counts
  }

  /** Deterministic prefix sum over per-tile counts in (key, tileIdx)
    * order — THE id contract byte-identical resume depends on; both the
    * fresh-run and resume paths must walk it identically, so they share
    * this one implementation. */
  private def prefixSum(counts: Seq[TileCount], cfg: JobConfig): Map[(String, Int), TileOffsets] = {
    var nodeId = cfg.startNodeId
    var wayId = cfg.startWayId
    counts.sortBy(c => (c.key, c.tileIdx)).map { c =>
      val off = TileOffsets(nodeId, wayId, c.nodes, c.ways, c.partition)
      nodeId += c.nodes
      wayId += c.ways
      (c.key, c.tileIdx) -> off
    }.toMap
  }

  /** Deterministic global id offsets: per-tile counts -> driver prefix sum
    * in (key, tileIdx) order. The reference only guarantees non-overlap
    * (tests/hgt/test_processor.py:105-130); this is strictly stronger.
    * Only the three counted columns are read. */
  def idOffsets(contoursDs: Dataset[ContourRow], cfg: JobConfig): Map[(String, Int), TileOffsets] =
    prefixSum(tileCounts(contoursDs.select("key", "tileIdx", "nbNodes").rdd
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))), cfg)

  private def idOffsets(rows: RDD[ContourRow], cfg: JobConfig): Map[(String, Int), TileOffsets] =
    prefixSum(tileCounts(rows.map(r => (r.key, r.tileIdx, r.nbNodes))), cfg)

  /** Write one OSM XML (or `format`) file per tile under outDir, from the
    * partitions the ids were counted in; single-output mode instead
    * serializes every tile, in id order, into one file. Returns files
    * written. */
  def writeOsmXml(
      contoursDs: Dataset[ContourRow],
      offsets: Map[(String, Int), TileOffsets],
      outDir: String,
      cfg: JobConfig,
      singleFileName: Option[String] = None,
      commit: Boolean = false,
      format: String = graft.sinks.TileSink.OsmXmlFormat,
      singleBBox: Option[BBox] = None): Seq[String] = {
    // single-output mode (reference processor.py:273-336): one file over
    // the global bbox, ALL nodes before ALL ways, tiles serialized through
    // one partition (parallelization disabled, as in the reference)
    val rows =
      if (singleFileName.isDefined)
        contoursDs.coalesce(1).sortWithinPartitions("key", "tileIdx", "elevation", "pathIdx").rdd
      else contoursDs.rdd
    writeTiles(rows, offsets, outDir, cfg, singleFileName, commit, format, singleBBox)
  }

  /** The one writer body. Per-tile mode writes each tile in the partition
    * its rows were traced (and counted) in. Every contract break throws
    * and names the tile, before a second task can open its file and
    * before a file with shifted ids survives: a tile met outside its
    * counted partition, a tile coming back after another, rows out of
    * (elevation, pathIdx) order, or a tile whose counts differ from the
    * ones its ids were assigned from. A failed task deletes the file it
    * had open and commits nothing. */
  private def writeTiles(
      rows: RDD[ContourRow],
      offsets: Map[(String, Int), TileOffsets],
      outDir: String,
      cfg: JobConfig,
      single: Option[String],
      commit: Boolean,
      format: String,
      singleBBox: Option[BBox]): Seq[String] = {
    val bc = rows.sparkContext.broadcast(offsets)
    val major = cfg.lineCatsMajor
    val medium = cfg.lineCatsMedium
    val osmV = cfg.osmVersion
    val ts = cfg.writeTimestamp
    val pfx = cfg.outputPrefix.getOrElse("")
    val files = rows.mapPartitionsWithIndex { (part, it) =>
      val classifier: Long => String = e => Levels.elevClassifier(major, medium)(e.toInt)
      val seen = scala.collection.mutable.HashSet.empty[(String, Int)]
      var tile: (String, Int) = null
      var off: TileOffsets = null
      var tileWays = 0L
      var lastElevation = 0
      var lastPathIdx = 0
      var writer: graft.sinks.TileSink = null
      var fileName: String = null
      var nodeId = 0L
      var wayStart = 0L
      val ways = scala.collection.mutable.ArrayBuffer.empty[PreparedWay]
      var t0 = 0L
      val written = scala.collection.mutable.ArrayBuffer.empty[String]
      def refuse(msg: String): Nothing =
        throw new IllegalStateException(s"tile ${tileName(tile._1, tile._2)}: $msg")
      def endTile(): Unit = if (tile != null) {
        val nodes = nodeId - off.nodeStart
        if (nodes != off.nodes || tileWays != off.ways)
          refuse(s"partition $part holds $nodes nodes / $tileWays ways, " +
            s"its ids were assigned for ${off.nodes} / ${off.ways}")
      }
      def closeFile(): Unit = if (writer != null) {
        writer.finish(ways.toSeq, wayStart, classifier)
        writer = null
        written += fileName
        if (commit && single.isEmpty) Checkpoint.writeCommit(outDir, Checkpoint.Commit(
          tile._1, tile._2, off.nodes, off.ways, fileName, (System.nanoTime() - t0) / 1000000L))
        ways.clear()
      }
      def open(path: String, bbox: BBox): Unit = {
        fileName = path
        writer = graft.sinks.TileSink.open(path, bbox, format, osmV, ts)
        nodeId = off.nodeStart
        wayStart = off.wayStart
        t0 = System.nanoTime()
      }
      try {
        it.foreach { row =>
          if (tile == null || row.key != tile._1 || row.tileIdx != tile._2) {
            endTile()
            if (single.isEmpty) closeFile()
            tile = (row.key, row.tileIdx)
            off = bc.value.getOrElse(tile, refuse("no id offsets were assigned to it"))
            if (!seen.add(tile)) refuse(s"its rows come back after another tile in partition $part")
            tileWays = 0L
            if (single.isEmpty) {
              // the tile's file belongs to the partition its ids were counted in
              if (off.partition != part)
                refuse(s"rows in partition $part, but its ids were counted in partition ${off.partition}")
              val bbox = BBox(row.minLon, row.minLat, row.maxLon, row.maxLat)
              open(s"$outDir/${graft.sinks.TileSink.fileName(bbox, row.key, format, pfx)}", bbox)
            } else if (writer == null) {
              // one writer for the whole run: global bbox = union of tiles
              open(s"$outDir/${single.get}",
                singleBBox.getOrElse(BBox(row.minLon, row.minLat, row.maxLon, row.maxLat)))
            } else if (nodeId != off.nodeStart)
              refuse(s"single-output tiles must arrive in id order: expected ${off.nodeStart}, have $nodeId")
          } else if (row.elevation < lastElevation ||
              (row.elevation == lastElevation && row.pathIdx <= lastPathIdx))
            refuse(s"path (${row.elevation}, ${row.pathIdx}) after ($lastElevation, $lastPathIdx)")
          lastElevation = row.elevation
          lastPathIdx = row.pathIdx
          val (next, way) = writer.writePath(row.coords, nodeId, row.elevation.toLong)
          nodeId = next
          ways += way
          tileWays += 1
        }
        endTile()
        closeFile()
      } catch {
        case e: Throwable =>
          if (writer != null) {
            try writer.finish(Nil, wayStart, classifier) catch { case _: Throwable => }
            graft.core.Fs.delete(fileName)
          }
          throw e
      }
      written.iterator
    }.collect()
    files.toSeq.sorted
  }

  /** Convenience end-to-end run. */
  def run(spark: SparkSession, paths: Seq[String], outDir: String, cfg: JobConfig): Seq[String] = {
    graft.core.Fs.mkdirs(outDir)
    val cs = tracedRows(tiles(spark, paths, cfg), cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try writeTiles(cs, idOffsets(cs, cfg), outDir, cfg, None, commit = false,
      graft.sinks.TileSink.OsmXmlFormat, None)
    finally cs.unpersist()
  }

  /** Single-output mode (reference --max-nodes-per-tile 0,
    * processor.py:273-336): every input merges into ONE file named from
    * the union bbox, all nodes before all ways, contiguous global ids.
    * Not resumable (one file = one commit unit), same as the reference. */
  def runSingle(spark: SparkSession, paths: Seq[String], outDir: String, cfg: JobConfig,
      format: String = graft.sinks.TileSink.OsmXmlFormat): Seq[String] = {
    graft.core.Fs.mkdirs(outDir)
    // persist the spec rows: both the contour stage and the union-bbox
    // collect need them, and tiles() re-decodes every DEM otherwise
    val ts = tiles(spark, paths, cfg).persist()
    val cs = contours(ts, cfg).persist()
    try {
      val offs = idOffsets(cs, cfg)
      // union in WGS84: DemTileRow bboxes are native-CRS, so reproject
      // non-4326 tiles before the union (the per-tile path does the same
      // via ContourRow's reprojected bbox). The reprojection runs on the
      // executors and only the 4-double min/max union reaches the driver,
      // so this stays O(1) driver memory at any tile count.
      import spark.implicits._
      val unionRow = ts.map { t =>
        val b = BBox(t.minLon, t.minLat, t.maxLon, t.maxLat)
        val w = Crs.toWgs84(t.epsg, t.spec).map(Crs.envelopeBBox(b, _)).getOrElse(b)
        (w.minLon, w.minLat, w.maxLon, w.maxLat)
      }.toDF("minLon", "minLat", "maxLon", "maxLat")
        .agg(min("minLon"), min("minLat"), max("maxLon"), max("maxLat"))
        .collect()(0)
      require(!unionRow.isNullAt(0), "no tiles to write")
      val union = BBox(unionRow.getDouble(0), unionRow.getDouble(1),
        unionRow.getDouble(2), unionRow.getDouble(3))
      val name = graft.sinks.TileSink.fileName(union, "", format, cfg.outputPrefix.getOrElse(""))
      writeOsmXml(cs, offs, outDir, cfg,
        singleFileName = Some(name), format = format, singleBBox = Some(union))
    } finally {
      cs.unpersist()
      ts.unpersist()
    }
  }

  final case class RunReport(
      tilesTotal: Int, tilesSkipped: Int, tilesWritten: Int, files: Seq[String])

  /** Resumable run: tiles with a commit record are skipped; id offsets are
    * rebuilt from committed counts + freshly traced counts, so a resumed
    * run emits byte-identical files to a fresh one. Also appends a metrics
    * table (per-tile rows) and a lineage table (input -> tile -> file)
    * under outDir/_meta. */
  def runResumable(spark: SparkSession, paths: Seq[String], outDir: String, cfg: JobConfig,
      format: String = graft.sinks.TileSink.OsmXmlFormat): RunReport = {
    import spark.implicits._
    graft.core.Fs.mkdirs(outDir)
    val committed = Checkpoint.readCommits(outDir)
    val committedKeys = committed.map(c => (c.key, c.tileIdx)).toSet
    val bcCommitted = spark.sparkContext.broadcast(committedKeys)
    val tilesAll = tiles(spark, paths, cfg).persist()
    // count only — the per-tile key list never reaches the driver; the
    // lineage join below consumes the persisted Dataset directly, so the
    // driver's footprint is O(commit records), not O(tiles)
    val tilesTotal = tilesAll.count()
    val todo = tilesAll.filter(t => !bcCommitted.value.contains((t.key, t.tileIdx)))
    val cs = tracedRows(todo, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = tileCounts(cs.map(r => (r.key, r.tileIdx, r.nbNodes)))
      val committedCounts = committed.map(c => TileCount(c.key, c.tileIdx, c.nodes, c.ways, -1))
      // merged deterministic prefix sum over ALL tiles (committed counts
      // win for tiles present in both) — same walk as idOffsets
      val merged = (fresh ++ committedCounts).map(c => (c.key, c.tileIdx) -> c).toMap
      val offsets = prefixSum(merged.values.toSeq, cfg)
      val files = writeTiles(cs, offsets, outDir, cfg, None, commit = true, format, None)
      // metrics + lineage tables
      val after = Checkpoint.readCommits(outDir)
      if (after.nonEmpty) {
        after.toDF().write.mode("overwrite").parquet(s"$outDir/_meta/metrics.parquet")
        val lineage = tilesAll.select("key", "tileIdx")
          .join(broadcast(after.toDF().select("key", "tileIdx", "file")),
            Seq("key", "tileIdx"), "left")
        lineage.write.mode("overwrite").parquet(s"$outDir/_meta/lineage.parquet")
      }
      RunReport(tilesTotal.toInt, committedKeys.size, files.size, files)
    } finally {
      cs.unpersist(); tilesAll.unpersist()
    }
  }

  /** Debug XYZ dump: "lon lat height" per grid point per tile (reference
    * HgtTile.plotData, pyhgtmap/hgt/tile.py:168-184). */
  def writeXyz(tilesDs: Dataset[DemTileRow], outDir: String, cfg: JobConfig): Seq[String] = {
    val spark = tilesDs.sparkSession
    import spark.implicits._
    graft.core.Fs.mkdirs(outDir)
    val voidMax = cfg.voidMax
    val smoothRatio = cfg.smoothRatio
    val feetSteps = cfg.feetSteps // --feet applies to xyz dumps too (the
    // reference converts at decode, file.py:484-485, before plotData)
    val prefix = cfg.outputPrefix.getOrElse("")
    val files = tilesDs
      .repartitionByRange(col("key"), col("tileIdx"))
      .sortWithinPartitions("path", "tileIdx")
      .mapPartitions { it =>
        it.map { tr =>
          val g = GridCache.grid(tr.path, voidMax, smoothRatio, feetSteps)
          val name = graft.sinks.TileSink.fileName(
            BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat), tr.key,
            graft.sinks.TileSink.XyzFormat, prefix)
          val path = s"$outDir/$name"
          val w = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(graft.core.Fs.create(path),
              java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
          try {
            var r = 0
            while (r < tr.rows) {
              val lat = tr.maxLat - r * tr.latInc
              var c = 0
              while (c < tr.cols) {
                val lon = tr.minLon + c * tr.lonInc
                val z = g.values((tr.rowOff + r) * tr.fullCols + tr.colOff + c).toInt
                w.write(graft.core.Fmt("%.7f %.7f %d\n", lon, lat, z))
                c += 1
              }
              r += 1
            }
          } finally w.close()
          path
        }
      }
      .collect()
    files.toSeq.sorted
  }
}
