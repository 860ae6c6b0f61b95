package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BBox, Cells}
import graft.functions.PipContainsCol

/** Pages x polygons spatial join and kNN, built the way they must run at
  * 10^12-row scale (SURVEY.md §2.3 J3/J5, north rule):
  *
  *  - polygons are covered by grid cells at a chosen resolution; the
  *    cell-cover equi-join prunes the candidate set BEFORE the exact
  *    point-in-polygon residual (the reference's clip-before-PIP pattern,
  *    /root/reference/pyhgtmap/hgt/file.py:329-331, as a join plan);
  *  - the cover side is broadcast when small, else salted: pages get a
  *    deterministic hash(url)-based salt, the cover side is replicated
  *    per salt — dense cells (urban clusters) spread over `salt` reducers;
  *  - kNN expands k-rings around each query cell and takes a windowed
  *    top-k; the ring radius doubles until the k-th neighbour is provably
  *    inside the ring (distance bound), so results equal brute force.
  */
object SpatialJoin {

  final case class Poly(polyId: Long, coords: Array[Double]) {
    def bbox: BBox = {
      var minLon = Double.MaxValue; var minLat = Double.MaxValue
      var maxLon = Double.MinValue; var maxLat = Double.MinValue
      var i = 0
      while (i < coords.length) {
        val x = coords(i); val y = coords(i + 1)
        if (x < minLon) minLon = x; if (x > maxLon) maxLon = x
        if (y < minLat) minLat = y; if (y > maxLat) maxLat = y
        i += 2
      }
      BBox(minLon, minLat, maxLon, maxLat)
    }
  }

  /** Cell cover of each polygon's bbox at `res` (coarse prefilter; exact
    * residual is the PIP predicate). Carries only ids — polygon vertices
    * travel once via a torrent broadcast (see PipLookup). */
  def coverDf(spark: SparkSession, polys: Seq[Poly], res: Int): DataFrame = {
    import spark.implicits._
    polys.flatMap { p =>
      Cells.cover(p.bbox, res).map(c => (c, p.polyId))
    }.toDF("cell", "poly_id")
  }

  private def registerPipLookup(pages: DataFrame, polys: Seq[Poly]): String = {
    val spark = pages.sparkSession
    val bc = spark.sparkContext.broadcast(polys.map(p => p.polyId -> p.coords).toMap)
    val name = s"pip_lookup_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => graft.functions.PipLookup(exprs(0), exprs(1), exprs(2), bc), "built-in")
    name
  }

  /** pages(cell, lon, lat, ...) x polygons -> rows inside each polygon.
    * Broadcast cover variant (cover side small). */
  def pipJoin(pages: DataFrame, polys: Seq[Poly], res: Int): DataFrame = {
    val spark = pages.sparkSession
    val fn = registerPipLookup(pages, polys)
    val cover = coverDf(spark, polys, res)
    pages
      .join(broadcast(cover), Seq("cell"))
      .filter(call_function(fn, col("lon"), col("lat"), col("poly_id")))
  }

  /** Salted shuffle variant for covers too large to broadcast / dense
    * cells: deterministic salt = pmod(xxhash64(url), salts). Without the
    * salt, both sides exchange on `cell` and a hot cell (urban cluster)
    * lands every one of its rows on a single reducer; BENCH.md's skew
    * section measured that unsalted baseline against salts 2/8/32.
    *
    * A broadcast semi-join on the cover's cell set prunes pages BEFORE the
    * wide exchange: only rows whose cell is covered by some polygon enter
    * the shuffle. At 10^12 pages where polygons cover a fraction of the
    * globe this is the difference between shuffling everything and
    * shuffling the candidate set. */
  def pipJoinSalted(pages: DataFrame, polys: Seq[Poly], res: Int, salts: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val fn = registerPipLookup(pages, polys)
    val cover0 = coverDf(spark, polys, res)
    val saltsDf = spark.range(0, salts).toDF("salt")
    val cover = cover0.crossJoin(saltsDf)
    pages
      .join(broadcast(cover0.select("cell").distinct()), Seq("cell"), "leftsemi")
      .withColumn("salt", pmod(xxhash64(col("url")), lit(salts.toLong)))
      .join(cover.hint("shuffle_hash"), Seq("cell", "salt"))
      .filter(call_function(fn, col("lon"), col("lat"), col("poly_id")))
      .drop("salt")
  }

  /** Locality-preserving repartition: range-partition on the Hilbert-curve
    * cell id (S2-style space-filling index, core/Hilbert.scala) so each
    * partition covers a spatially COMPACT area. Hash partitioning scatters
    * neighbours across every partition; Hilbert ranges keep them together,
    * which is what makes partition-pruned spatial reads and neighbour-local
    * shuffles work at 10^12 rows (write clustering + join locality). */
  def clusterSpatially(
      df: DataFrame,
      lonCol: String,
      latCol: String,
      level: Int,
      partitions: Int): DataFrame = {
    val fn = s"hilbert_cell_$level"
    graft.functions.HilbertCell.register(df.sparkSession, fn, level)
    df.repartitionByRange(partitions, call_function(fn, col(lonCol), col(latCol)))
  }

  /** Hilbert-clustered parquet write — the write-side payoff of
    * clusterSpatially: rows land range-partitioned AND sorted by their
    * Hilbert cell, so every output file (and every parquet row group
    * inside it) covers a spatially COMPACT lon/lat box. A bbox scan then
    * prunes most files from their min/max column stats, where a hash
    * layout forces it to touch every file. This is how a 10^12-row pages
    * table should be laid down once so every later spatial read is
    * sub-linear. */
  def writeClustered(
      df: DataFrame,
      path: String,
      lonCol: String,
      latCol: String,
      level: Int,
      partitions: Int): Unit = {
    val fn = s"hilbert_cell_$level"
    graft.functions.HilbertCell.register(df.sparkSession, fn, level)
    df.withColumn("__hkey", call_function(fn, col(lonCol), col(latCol)))
      .repartitionByRange(partitions, col("__hkey"))
      .sortWithinPartitions("__hkey")
      .drop("__hkey")
      .write.mode("overwrite").parquet(path)
  }

  /** S2-clustered parquet write: like writeClustered but keyed by the S2
    * leaf cell id, which is KEPT as a column (`s2`) — unlike the Hilbert
    * variant, a lat/lon rectangle maps to a handful of CONTIGUOUS id
    * ranges (one per cover cell, S2.coverRect), so a bbox scan becomes a
    * pushed-down `s2 BETWEEN lo AND hi OR ...` predicate that parquet
    * row-group stats answer without decoding — file pruning AND row-group
    * pruning from the same sorted long column. */
  def writeClusteredS2(
      df: DataFrame,
      path: String,
      lonCol: String,
      latCol: String,
      partitions: Int): Unit = {
    graft.functions.S2CellIdExpr.register(df.sparkSession, "s2_leaf", 30)
    df.withColumn("s2", call_function("s2_leaf", col(lonCol), col(latCol)))
      .repartitionByRange(partitions, col("s2"))
      .sortWithinPartitions("s2")
      .write.mode("overwrite").parquet(path)
  }

  /** Pushdown predicate for a bbox scan of an S2-clustered table: the
    * disjunction of the cover cells' leaf-id ranges. Callers AND an exact
    * lon/lat re-filter after it (the covering is a superset). */
  def s2RangePredicate(
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
      level: Int, cellCol: String = "s2"): org.apache.spark.sql.Column = {
    val cells = graft.core.S2.coverRect(minLon, minLat, maxLon, maxLat, level)
    require(cells.nonEmpty)
    cells.map(c => col(cellCol).between(
      graft.core.S2.rangeMin(c), graft.core.S2.rangeMax(c))).reduce(_ || _)
  }

  /** Exact kNN via k-ring candidate join with provable termination:
    * a result set for query q is final when it holds >= k candidates whose
    * k-th distance <= ring guarantee (ring * cellSize in degrees). Rings
    * double until every query is final (or the ring spans the data bbox).
    * Returns (q_id, rank, page_id, dist).
    *
    * Driver-side state is bounded by k x |queries| result rows plus the
    * ring cell lists — NOT by |pages|; the per-ring `.collect()` pulls at
    * most k rows per outstanding query. Queries are a broadcast-sized set
    * by construction (interactive lookups); for a large query TABLE use
    * `knnBatch` below (fully columnar, no driver loop, gate q14). */
  def knn(
      pages: DataFrame, // needs page_id, lon, lat, cell
      queries: Seq[(Long, Double, Double)],
      k: Int,
      res: Int,
      maxRing: Int = 1 << 12): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val cellSize = 1.0 / (1L << res).toDouble
    var ring = 1
    var remaining = queries
    val accRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    while (remaining.nonEmpty && ring <= maxRing) {
      val cand = remaining.flatMap { case (qid, qLon, qLat) =>
        Cells.kRing(Cells.cellId(qLon, qLat, res), res, ring)
          .map(c => (qid, qLon, qLat, c))
      }
      val candDf = cand.toDF("q_id", "q_lon", "q_lat", "cell")
      val joined = pages.join(broadcast(candDf), Seq("cell"))
        .withColumn(
          "dist",
          sqrt((col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
            (col("lat") - col("q_lat")) * (col("lat") - col("q_lat"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dist").asc, col("page_id").asc)
      val topk = joined
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("q_id", "rank", "page_id", "dist")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      // a point at euclid distance d is at most floor(d/cellSize)+1 cells
      // away (Chebyshev), so a ring of radius `ring` provably covers all
      // points within (ring-1)*cellSize of the query.
      val guarantee = (ring - 1) * cellSize
      val byQ = topk.groupBy(_._1)
      val done = remaining.filter { case (qid, _, _) =>
        byQ.get(qid).exists(rows => rows.length >= k && rows.map(_._4).max <= guarantee)
      }
      val doneIds = done.map(_._1).toSet
      accRows ++= topk.filter(r => doneIds.contains(r._1))
      remaining = remaining.filterNot(q => doneIds.contains(q._1))
      ring *= 2
    }
    require(remaining.isEmpty, s"knn did not converge for queries: ${remaining.map(_._1)}")
    accRows.toSeq.toDF("q_id", "rank", "page_id", "dist").orderBy("q_id", "rank")
  }

  /** Exact batch-table kNN — both sides cell-indexed, candidates from a
    * per-query k-ring EQUI-JOIN on cell, top-k by window; no driver loop,
    * no per-query driver state, so the query side can be a 10^9-row table
    * (the operator `knn` above documents as its own gap).
    *
    * Two fully-columnar passes make it exact, not approximate:
    *  1. radius discovery — queries explode to their (2·maxR+1)^2 cell
    *     neighbourhood, equi-join the PRE-AGGREGATED per-cell page counts
    *     (tiny vs pages), and a cumulative window over Chebyshev ring
    *     distance finds r_q = the smallest ring holding >= k pages;
    *  2. candidate join — any point within the k-th-neighbour distance
    *     bound D = sqrt(2)·(r_q+1)·cellSize lies within Chebyshev radius
    *     R_q = floor(sqrt(2)·(r_q+1)) + 1 cells, so the ring(R_q) equi-join
    *     provably contains the true top-k; the window then ranks by exact
    *     squared distance (ties by page_id).
    *
    * Queries whose maxR neighbourhood holds < k pages are absent from the
    * output (raise maxR / coarsen res for sparse data). Returns
    * (q_id, rank, page_id, d2).
    *
    * `res` is a pure density/cost knob — results are EXACT at any res.
    * Coarser cells shrink pass 1's per-query fanout (2·maxR+1)^2
    * quadratically while growing the pass-2 candidate set linearly with
    * cell area; size res so the expected k-NN radius spans a few cells
    * (and maxR·cellSize still covers the sparsest query's k-neighbourhood). */
  def knnBatch(
      pages: DataFrame, // needs page_id, lon, lat, cell (at `res`)
      queries: DataFrame, // (q_id, q_lon, q_lat)
      k: Int,
      res: Int,
      maxR: Int = 64): DataFrame = {
    val w = Cells.lonWidth(res)
    val maxLatIdx = 180L << res
    val scale = (1L << res).toDouble
    val cellCounts = pages.groupBy("cell").agg(count(lit(1)).as("cnt"))
    // index arithmetic mirrors GeoCols.cellId exactly (floor on the raw
    // coordinate, domain-boundary CLAMP — a query at lat = 90.0 must index
    // the last row, not the nonexistent one past it, or its northern cells
    // become unreachable by every ring join) — deriving idx from the cell
    // id via double division loses integer precision once cell ids pass
    // 2^53 (res >= 19)
    val q = queries
      .withColumn("q_lon_idx",
        least(greatest(floor((col("q_lon") + lit(180.0)) * lit(scale)).cast("long"), lit(0L)), lit(w - 1)))
      .withColumn("q_lat_idx",
        least(greatest(floor((col("q_lat") + lit(90.0)) * lit(scale)).cast("long"), lit(0L)), lit(maxLatIdx - 1)))
    // NO longitude wrap: the ranking metric below is plain Euclidean d2,
    // under which points across the antimeridian are genuinely far —
    // wrapping the candidate cells would count them as near in pass 1 and
    // shrink the covering radius below the true k-th neighbour
    def ringCells(src: DataFrame, radius: org.apache.spark.sql.Column, carry: Seq[String]) =
      src
        .select((col("q_id") +: carry.map(col) :+
          col("q_lon_idx") :+ col("q_lat_idx") :+ radius.as("rr")): _*)
        .withColumn("dy", explode(sequence(-col("rr"), col("rr"))))
        .filter(col("q_lat_idx") + col("dy") >= 0 && col("q_lat_idx") + col("dy") < maxLatIdx)
        .withColumn("dx", explode(sequence(-col("rr"), col("rr"))))
        .filter(col("q_lon_idx") + col("dx") >= 0 && col("q_lon_idx") + col("dx") < w)
        .withColumn("d", greatest(abs(col("dy")), abs(col("dx"))))
        .withColumn("cell",
          (col("q_lat_idx") + col("dy")) * lit(w) + col("q_lon_idx") + col("dx"))
    // pass 1: smallest ring with >= k candidates, from per-cell counts
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val rq = ringCells(q, lit(maxR), Nil)
      .join(cellCounts, Seq("cell"))
      .groupBy("q_id", "d").agg(sum("cnt").as("nc"))
      .withColumn("cum", sum("nc").over(wcum))
      .filter(col("cum") >= k)
      .groupBy("q_id").agg(min("d").as("rq"))
    // pass 2: ring(R_q) candidates, exact distance, windowed top-k
    val qr = q.join(rq, Seq("q_id"))
      .withColumn("bigR",
        (floor((col("rq") + lit(1)).cast("double") * lit(math.sqrt(2.0))) + lit(1)).cast("int"))
    val cand = ringCells(qr, col("bigR"), Seq("q_lon", "q_lat"))
      .select("q_id", "q_lon", "q_lat", "cell")
    val joined = pages.join(cand, Seq("cell"))
      .withColumn("d2",
        (col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
          (col("lat") - col("q_lat")) * (col("lat") - col("q_lat")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("page_id").asc)
    joined
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "page_id", "d2")
  }

  /** Brute-force reference kNN (test oracle / small inputs). */
  def knnBrute(
      pages: DataFrame,
      queries: Seq[(Long, Double, Double)],
      k: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val q = queries.toDF("q_id", "q_lon", "q_lat")
    val joined = pages.crossJoin(broadcast(q))
      .withColumn(
        "dist",
        sqrt((col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
          (col("lat") - col("q_lat")) * (col("lat") - col("q_lat"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dist").asc, col("page_id").asc)
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "rank", "page_id", "dist")
      .orderBy("q_id", "rank")
  }
}
