package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.synth.Pages
import graft.engine.SpatialJoin.Poly

class SpatialJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .appName("spatial-join-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Res = 7 // 1/128 degree cells
  private lazy val pages = {
    val df = Pages.geocoded(Pages.generate(spark, 4000).toDF(), Res).cache()
    df.count()
    df
  }

  private def poly(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  private val polys = Seq(
    Poly(1L, poly((6.2, 43.2), (6.4, 43.2), (6.4, 43.4), (6.2, 43.4))), // hot cluster box
    Poly(2L, poly((6.5, 43.5), (6.9, 43.6), (6.7, 43.9))), // triangle
    Poly(3L, poly((6.05, 43.8), (6.15, 43.8), (6.15, 43.9), (6.05, 43.9))))

  test("synthetic pages are deterministic and text roundtrips byte-identically") {
    val a = Pages.pageOf(1234L)
    val b = Pages.pageOf(1234L)
    assert(a == b.copy(html = a.html) && java.util.Arrays.equals(a.html, b.html))
    // per-url byte-identical extracted text invariant
    (0L until 500L).foreach { i =>
      val p = Pages.pageOf(i)
      assert(Pages.extractText(p.html) == p.text, s"roundtrip failed for id $i")
    }
    // column-derived geocode matches the scala generator
    val rows = pages.select("page_id", "lon", "lat").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDouble(1) == Pages.lonOf(id), s"lon mismatch id=$id")
      assert(r.getDouble(2) == Pages.latOf(id), s"lat mismatch id=$id")
    }
  }

  test("hot cluster exists (salting is justified)") {
    val top = pages.groupBy("cell").count().orderBy(col("count").desc).first()
    assert(top.getLong(1) > 400, s"expected a hot cell, got ${top.getLong(1)}")
  }

  test("cell-prejoin PIP join equals naive full scan") {
    val got = SpatialJoin.pipJoin(pages, polys, Res)
      .select("page_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive oracle: evaluate PIP on every page x polygon
    val all = pages.select("page_id", "lon", "lat").collect()
    val expected = (for {
      r <- all
      p <- polys
      if graft.core.Geometry.contains(p.coords, r.getDouble(1), r.getDouble(2))
    } yield (r.getLong(0), p.polyId)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("salted shuffle PIP join equals broadcast variant") {
    val a = SpatialJoin.pipJoin(pages, polys, Res)
      .select("page_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = SpatialJoin.pipJoinSalted(pages, polys, Res, salts = 8)
      .select("page_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("ring-expansion kNN equals brute force") {
    val queries = Seq(
      (0L, 6.1, 43.2), (1L, 6.5, 43.5), (2L, 6.9, 43.8), (3L, 6.253, 43.253),
      (4L, 6.7, 43.1), (5L, 6.0001, 43.9999), (6L, 6.42, 43.66), (7L, 6.99, 43.01))
    val fast = SpatialJoin.knn(pages, queries, k = 5, res = Res)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brute = SpatialJoin.knnBrute(pages, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(fast.toSeq == brute.toSeq)
  }

  test("ring-expansion kNN terminates and stays exact with all mass in one far cell") {
    import spark.implicits._
    // worst case for the doubling loop: the query's own neighbourhood is
    // empty for ~115 rings — every page sits in a single cell at the
    // opposite corner of the tile, so only the ring that first spans the
    // full diagonal can finalize. The finalize rule needs the k-th
    // DISTANCE under the (ring-1)*cellSize guarantee, not mere k
    // candidates — with euclid diag ~1.27 deg and 1/128-deg cells the
    // loop must run past ring 164 to 256 and still return the exact set.
    val far = (0 until 20).map { i =>
      val lon = 6.9 + (i % 5) * 1e-4; val lat = 43.9 + (i / 5) * 1e-4
      (100L + i, lon, lat, graft.core.Cells.cellId(lon, lat, Res))
    }.toDF("page_id", "lon", "lat", "cell")
    val queries = Seq((0L, 6.0, 43.0))
    val fast = SpatialJoin.knn(far, queries, k = 5, res = Res)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brute = SpatialJoin.knnBrute(far, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(fast.toSeq == brute.toSeq && fast.length == 5)
    // at the maxRing bound the operator refuses loudly (names the query)
    // instead of returning a silently short / unproven result set
    val ex = intercept[IllegalArgumentException] {
      SpatialJoin.knn(far, queries, k = 5, res = Res, maxRing = 4)
    }
    assert(ex.getMessage.contains("did not converge") && ex.getMessage.contains("0"))
  }

  test("batch kNN near the antimeridian matches brute force (no lon wrap)") {
    import spark.implicits._
    // points straddling lon +/-180: under the plain-Euclidean metric the
    // far side is genuinely ~360 deg away — candidate cells must NOT wrap
    val res = 7
    val pts = Seq(
      (1L, -179.99, 10.0), (2L, -179.0, 10.0), (3L, -178.5, 10.1),
      (4L, 179.99, 10.0), (5L, 179.5, 10.0), (6L, 178.9, 9.9),
      (7L, -179.95, 10.05), (8L, -179.2, 9.8))
      .toDF("page_id", "lon", "lat")
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), res))
    val queries = Seq((0L, -179.98, 10.0), (1L, 179.9, 10.0)).toDF("q_id", "q_lon", "q_lat")
    val got = SpatialJoin.knnBatch(pts, queries, k = 3, res = res, maxR = 256)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = SpatialJoin.knnBrute(pts,
        Seq((0L, -179.98, 10.0), (1L, 179.9, 10.0)), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("batch kNN at the pole/antimeridian domain boundary matches brute force") {
    import spark.implicits._
    // lat = 90.0 floors to latIdx = 180<<res, one past the last row: the
    // clamp (Cells.cellId / GeoCols.cellId / knnBatch query idx) keeps
    // such points in the last valid row so ring joins still reach them —
    // both as data points AND as query points. Same for lon = 180.0.
    val res = 7
    val pts = Seq(
      (1L, 10.0, 90.0), (2L, 10.05, 89.99), (3L, 9.9, 89.95),
      (4L, 10.2, 89.9), (5L, 180.0, 89.98), (6L, 179.9, 89.97),
      (7L, 10.1, 89.2), (8L, 11.0, 89.0), (9L, 179.5, 89.5))
      .toDF("page_id", "lon", "lat")
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), res))
    // column codec still equals the scala codec at the boundary
    pts.select("page_id", "lon", "lat", "cell").collect().foreach { r =>
      assert(r.getLong(3) == graft.core.Cells.cellId(r.getDouble(1), r.getDouble(2), res))
    }
    val qSeq = Seq((0L, 10.0, 90.0), (1L, 180.0, 90.0), (2L, 9.95, 89.96))
    val got = SpatialJoin.knnBatch(pts, qSeq.toDF("q_id", "q_lon", "q_lat"),
        k = 3, res = res, maxR = 256)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = SpatialJoin.knnBrute(pts, qSeq, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("hilbert-clustered write prunes a bbox scan >= 2x vs hash layout") {
    val tmp = java.nio.file.Files.createTempDirectory("layout").toString
    val cols = pages.select("page_id", "lon", "lat")
    val hashPath = s"$tmp/hash"
    val hilPath = s"$tmp/hilbert"
    cols.repartition(16, col("page_id")).write.mode("overwrite").parquet(hashPath)
    SpatialJoin.writeClustered(cols, hilPath, "lon", "lat", level = 8, partitions = 16)
    // candidate files for a bbox scan = files whose lon/lat min/max stats
    // (what parquet footers carry) intersect the query box
    def candidates(dir: String, lo0: Double, la0: Double, lo1: Double, la1: Double): Int =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
        val st = spark.read.parquet(f.toString)
          .agg(min("lon"), max("lon"), min("lat"), max("lat")).collect()(0)
        !st.isNullAt(0) &&
          !(st.getDouble(1) < lo0 || st.getDouble(0) > lo1 ||
            st.getDouble(3) < la0 || st.getDouble(2) > la1)
      }
    val (lo0, la0, lo1, la1) = (6.40, 43.40, 6.60, 43.60)
    val nHash = candidates(hashPath, lo0, la0, lo1, la1)
    val nHil = candidates(hilPath, lo0, la0, lo1, la1)
    assert(nHil >= 1)
    assert(nHash >= 2 * nHil, s"hash=$nHash hilbert=$nHil")
    // identical content under both layouts
    val a = spark.read.parquet(hashPath)
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(hilPath)
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("s2-clustered write serves a bbox from contiguous id ranges with file pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("s2layout").toString
    val cols = pages.select("page_id", "lon", "lat")
    val hashPath = s"$tmp/hash"
    val s2Path = s"$tmp/s2"
    cols.repartition(16, col("page_id")).write.mode("overwrite").parquet(hashPath)
    SpatialJoin.writeClusteredS2(cols, s2Path, "lon", "lat", partitions = 16)
    val (lo0, la0, lo1, la1) = (6.40, 43.40, 6.60, 43.60)
    val pred = SpatialJoin.s2RangePredicate(lo0, la0, lo1, la1, level = 10)
    // file pruning on the stored s2 column's min/max stats
    def s2Candidates(dir: String): Int = {
      val ranges = graft.core.S2.coverRect(lo0, la0, lo1, la1, 10)
        .map(c => (graft.core.S2.rangeMin(c), graft.core.S2.rangeMax(c)))
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
        val st = spark.read.parquet(f.toString).agg(min("s2"), max("s2")).collect()(0)
        !st.isNullAt(0) && ranges.exists { case (lo, hi) =>
          !(st.getLong(1) < lo || st.getLong(0) > hi) }
      }
    }
    val nTouched = s2Candidates(s2Path)
    val nTotal = new java.io.File(s2Path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nTouched >= 1 && nTotal >= 2 * nTouched, s"touched=$nTouched of $nTotal")
    // range predicate + exact refilter == plain bbox scan of the hash layout
    val viaS2 = spark.read.parquet(s2Path)
      .filter(pred) // the pushed-down pruning disjunction
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = spark.read.parquet(hashPath)
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaS2 == plain && viaS2.nonEmpty)
    // and the range disjunction reaches the parquet scan as pushed filters
    val p = spark.read.parquet(s2Path).filter(pred)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("s2"), p)
  }

  test("batch-table kNN equals brute force on a query TABLE") {
    import spark.implicits._
    // query side is a table: 60 pages themselves plus off-lattice points
    // (incl. a query whose nearest neighbours straddle several rings)
    val fromPages = pages.select(col("page_id").as("q_id"),
      col("lon").as("q_lon"), col("lat").as("q_lat"))
      .filter(col("q_id") < 50)
    val extra = Seq(
      (1000L, 6.0001, 43.9999), (1001L, 6.99, 43.01), (1002L, 6.253, 43.253),
      (1003L, 6.42, 43.66)).toDF("q_id", "q_lon", "q_lat")
    val queries = fromPages.unionAll(extra)
    val got = SpatialJoin.knnBatch(pages, queries, k = 5, res = Res)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val qSeq = queries.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val brute = SpatialJoin.knnBrute(pages, qSeq, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute)
    // and it is a real batch operator: no driver loop means the plan is a
    // single DAG — just sanity-check it contains the candidate equi-join
    val plan = SpatialJoin.knnBatch(pages, queries, k = 5, res = Res)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
