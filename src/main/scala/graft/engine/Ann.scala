package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate nearest neighbour over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: IVF — vectors
  * are partitioned into k coarse clusters (deterministic Lloyd iterations,
  * lowest-id seeding); queries probe only the `nprobe` nearest clusters.
  * With nprobe == k the IVF result equals brute force (tested); smaller
  * nprobe trades recall for a k/nprobe candidate-set reduction, which is
  * what makes 10^12-row cosine search feasible.
  *
  * All dot products run through native codegen'd vector expressions
  * (functions/VecOps.scala) over array<double> — no UDFs, no
  * CodegenFallback higher-order functions in the hot loop.
  */
object Ann {

  /** Codegen'd cosine similarity between two array<double> columns: a
    * native expression (functions/VecOps.scala), NOT zip_with/aggregate —
    * Spark's higher-order functions are CodegenFallback and allocate per
    * evaluation, which is ruinous inside an all-pairs similarity stage.
    * Callers must have run `register(spark)` (all entry points here do). */
  def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("cosine_sim", a, b)

  /** Cosine from PRECOMPUTED L2 norms: dot(a,b) / (na * nb) is
    * bit-identical to `cosine(a, b)` when na/nb come from `norm` (same
    * ascending accumulation, same final multiply-divide — VecOps.norm
    * scaladoc). Pair stages use this so each PAIR costs one dot product
    * instead of one dot + two norm folds; norms are computed once per
    * VECTOR before the pair fan-out (r7, guide §1.2 step 2). */
  def cosineFromNorms(
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("dot_vec", a, b) / (na * nb)

  /** Codegen'd L2 norm of an array<double> column. */
  def norm(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("vec_norm", a)

  /** Spread a SMALL scan across the cluster before a compute-heavy narrow
    * kernel: a tiny input (one parquet file at gate scale) arrives as a
    * single scan partition, which would serialize the whole kernel on one
    * core (guide §2.5, input-layout skew — "repartition immediately after
    * the read"); when a pair join then broadcasts, the entire
    * O(pairs · dim) similarity stage inherits that single partition.
    * SCALE-ADAPTIVE, not a local[32] tune: when the scan already carries
    * >= defaultParallelism partitions (any real-scale table), this is the
    * identity and no shuffle is ever added. Measured on q36 at sf0.1
    * (OPTIMIZATION_r07.md, same JVM, best-of-5): 1.28 s single-partition
    * kernel vs 0.43 s spread (r6 explode+agg: 0.84 s). */
  private[engine] def spreadSmall(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("sq_dist_vec", a, b)

  /** Deliberate join strategy for a SMALL-side fetch/build table whose
    * partner stream is far larger (guide §3): `broadcast()` when the
    * side's PLAN-TIME size (the same stats the planner uses — no extra
    * job) fits `spark.graft.fetchBroadcastBytes` (default 128 MB,
    * parameterised for deployment), else a SHUFFLE_HASH hint — the same
    * exchanges a sort-merge join would do, but the per-partition hash
    * build is on this (small) side and the wide stream is NEVER sorted.
    * Without this, the planner silently falls off the 10 MB broadcast
    * threshold into sort-merge, sorting the big stream at full row width
    * (the r7 q57-at-sf1 cliff: 414 s → 13.5 s), and — where the join key
    * has few distinct values, like ivfPairs' k clusters — collapsing
    * parallelism to the key cardinality. Strategy choice cannot change
    * results (AnnSpec pins the forced over-bound branch pair-identical). */
  private[engine] def fetchSide(df: DataFrame): DataFrame = {
    val key = "spark.graft.fetchBroadcastBytes"
    val raw = df.sparkSession.conf.get(key, (128L << 20).toString)
    val bound = BigInt(raw.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be a whole number of bytes, got '$raw'")))
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= bound) broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Register the vector kernels in this session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.VecFns.register(spark)

  /** Centroids as a literal array<struct<cluster:int, centroid:array<double>>>
    * column — the "broadcast" is a plan literal, so the nearest-centroid
    * argmin below runs entirely inside project/codegen with NO exchange.
    * (k ≤ a few thousand × dim ≤ a few hundred keeps the literal tiny.) */
  private def centroidLit(centroids: Seq[(Int, Array[Double])]): org.apache.spark.sql.Column =
    array(centroids.map { case (c, arr) =>
      struct(lit(c).as("cluster"), typedLit(arr.toSeq).as("centroid"))
    }: _*)

  /** Shuffle-free argmin over the centroid literal: fold the candidate array
    * keeping the (cluster, d) with the smallest distance; strict `<` with
    * in-cluster-order iteration reproduces the old (d ASC, cluster ASC)
    * window tie-break exactly. Replaces a crossJoin×k + per-vec_id window
    * sort-shuffle — two wide exchanges per Lloyd iteration at 10^9 vectors. */
  private def nearestCluster(vec: org.apache.spark.sql.Column, cands: org.apache.spark.sql.Column) =
    aggregate(
      cands,
      struct(lit(-1).as("cluster"), lit(Double.MaxValue).as("d")),
      (acc, cand) => {
        val d = sqDist(vec, cand.getField("centroid"))
        when(d < acc.getField("d"),
          struct(cand.getField("cluster").as("cluster"), d.as("d"))).otherwise(acc)
      })

  /** Exact brute-force cosine top-k: (q_id, rank, vec_id, cos). */
  def bruteTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    register(vectors.sparkSession)
    val v = vectors.select(col("vec_id"), col("vec"))
    val q = queries.select(col("q_id"), col("qvec"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    v.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Deterministic Lloyd k-means over array<double> vectors: seeds = the k
    * lowest vec_ids; returns (clusterId, centroid). */
  def trainCentroids(vectors: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Double])] = {
    val spark = vectors.sparkSession
    register(spark)
    import spark.implicits._
    var centroids: Seq[(Int, Array[Double])] = vectors
      .orderBy("vec_id").limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getAs[Seq[Double]]("vec").toArray) }
      .toSeq
    (1 to iters).foreach { _ =>
      val assigned = vectors
        .withColumn("cluster", nearestCluster(col("vec"), centroidLit(centroids)).getField("cluster"))
      val dims = assigned
        .select(col("cluster"), posexplode(col("vec")).as(Seq("i", "x")))
        .groupBy("cluster", "i").agg(avg("x").as("cx"))
        .collect()
      val byCluster = dims.groupBy(_.getInt(0))
      centroids = centroids.map { case (c, old) =>
        byCluster.get(c) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            (c, arr)
          case None => (c, old) // empty cluster keeps its centroid
        }
      }
    }
    centroids
  }

  /** Assign vectors to their nearest centroid: (cluster, vec_id, vec).
    * Pure narrow projection — no join, no window, no exchange. */
  def assign(vectors: DataFrame, centroids: Seq[(Int, Array[Double])]): DataFrame = {
    register(vectors.sparkSession)
    vectors
      .withColumn("cluster", nearestCluster(col("vec"), centroidLit(centroids)).getField("cluster"))
      .select("cluster", "vec_id", "vec")
  }

  /** IVF-bucketed near-duplicate candidate pairs: the index side sits in
    * its single nearest cluster, the probe side fans out to its `nprobe`
    * nearest clusters, and candidates come from an EQUI-JOIN on cluster —
    * never an all-pairs nested loop. With nprobe == k every unordered pair
    * (a < b) is generated exactly once (b probes all clusters, a lives in
    * exactly one), so the candidate set IS the exact pair space and results
    * equal a brute-force scan — the q33 full-probe argument; nprobe < k
    * trades recall for a ~k/nprobe reduction of the pair space, which is
    * what makes 10^9-vector near-dup feasible. Returns (a, va, b, vb). */
  def ivfPairs(
      vectors: DataFrame, // (vec_id, vec)
      centroids: Seq[(Int, Array[Double])],
      nprobe: Int): DataFrame = {
    register(vectors.sparkSession)
    // r7: each side carries its L2 norm, computed once per VECTOR before
    // the pair fan-out, so callers can run the per-pair cosine as a single
    // dot product (cosineFromNorms — bit-identical)
    // both sides spread BEFORE their per-vector work (assign's centroid
    // argmin fold, the norms): whichever side the planner streams (the
    // other broadcasts at gate scale), every per-vector and per-pair
    // stage keeps full-width partitioning instead of the scan's single
    // partition — and the two sides' identical repartition subtrees
    // collapse into one reused exchange
    val spreadVecs = spreadSmall(vectors)
    val idx = assign(spreadVecs, centroids).toDF("cluster", "a", "va")
      .withColumn("na", norm(col("va")))
    val sorted = array_sort(transform(
      centroidLit(centroids),
      c => struct(sqDist(col("vb"), c.getField("centroid")).as("d"),
        c.getField("cluster").as("cluster"))))
    val probeClusters = transform(slice(sorted, 1, nprobe), s => s.getField("cluster"))
    val probes = spreadVecs.toDF("b", "vb")
      .withColumn("nb", norm(col("vb")))
      .withColumn("cluster", explode(probeClusters))
    // r7: deliberate strategy on the idx side (see fetchSide). The
    // cluster key has only k distinct values, so past the broadcast
    // threshold the default sort-merge join BOTH sorts the nprobe-fanned
    // probe side at vector width AND collapses parallelism to <= k
    // partitions; broadcast (or, past the bound, shuffled-hash) keeps
    // the probe side's full-width partitioning un-sorted.
    fetchSide(idx).join(probes, Seq("cluster"))
      .filter(col("a") < col("b"))
      .select("a", "va", "na", "b", "vb", "nb")
  }

  private def sqNorm(v: org.apache.spark.sql.Column) =
    call_function("sq_dist_vec", v, array_repeat(lit(0.0), size(v)))

  /** Deterministic orthonormal pivot directions for angle banding: walk the
    * lowest-id non-zero vectors, Gram–Schmidt each against the pivots
    * already kept, and keep the normalized residual when it is numerically
    * independent (relative residual norm > 1e-6). Orthogonality is a
    * PRUNING choice, not a correctness one — the reverse triangle
    * inequality holds against any fixed direction — but orthogonal pivots
    * give (approximately) independent angles on isotropic data, so the
    * per-pivot retention fractions MULTIPLY instead of repeating the same
    * cut. A rank-deficient corpus (e.g. data in a 2-D subspace) simply
    * yields fewer pivots than requested, which stays exact. Bounded
    * driver work: at most 64 rows × dim doubles collected — but it IS a
    * Spark job per call, so loop callers should compute pivots once and
    * pass them through the `pivots` parameter of
    * [[angleBandCandidates]]/[[pairsAngleBanded]]. Public for exactly
    * that reuse. */
  def orthoPivots(vectors: DataFrame, numPivots: Int): Seq[Array[Double]] = {
    val rows = vectors
      .filter(sqNorm(col("vec")) > 0)
      .orderBy("vec_id").select("vec").limit(64).collect()
    require(rows.nonEmpty, "pairsAngleBanded needs at least one non-zero vector")
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    val pivots = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val it = rows.iterator
    while (pivots.size < numPivots && it.hasNext) {
      val v = it.next().getAs[Seq[Double]](0).toArray
      val n0 = math.sqrt(dot(v, v))
      var i = 0
      while (i < v.length) { v(i) /= n0; i += 1 } // unit first → relative residual test
      pivots.foreach { p =>
        val d = dot(v, p)
        var j = 0
        while (j < v.length) { v(j) -= d * p(j); j += 1 }
      }
      val r = math.sqrt(dot(v, v))
      if (r > 1e-6) {
        var j = 0
        while (j < v.length) { v(j) /= r; j += 1 }
        pivots += v
      }
    }
    pivots.toSeq
  }

  /** Exact no-false-negative candidate pairs for cosine >= tau via
    * MULTI-PIVOT angle banding. Every vector gets `numPivots` angles
    * theta_i to fixed orthonormal pivot directions ([[orthoPivots]]). By
    * the reverse triangle inequality for angular distance,
    * angle(a,b) >= |theta_i(a) - theta_i(b)| for EVERY pivot i, so
    * cos(a,b) >= tau implies all p band indices (theta_i quantized by
    * `bandWidthDeg`) differ by at most m = ceil(acos(tau)/width). The
    * candidate set comes from an EQUI-JOIN on the p-tuple of band
    * indices (the probe side explodes to its (2m+1)^p neighbour-band
    * combinations), then the O(p) |dTheta_i| prefilters. Each unordered
    * pair appears EXACTLY once: the build side sits only in its own band
    * tuple and the probe side's exploded tuples are distinct, so (a, b)
    * meets on the single tuple bands(a).
    *
    * Returns the candidate (a, b, ta, tb) SUPERSET — no exact cosine has
    * run yet; [[pairsAngleBanded]] is the verified operator. Exposed so
    * the pruning itself is measurable (AnnSpec's honest-model tests).
    *
    * HONEST PRUNING MODEL — measured, not assumed: each pivot keeps the
    * fraction of the pair space inside its 2*acos(tau)-degree angular
    * strip, and with orthogonal pivots those fractions MULTIPLY. On
    * spread/manifold data (the natural-embedding regime) one pivot
    * already prunes hard (AnnSpec: ~8x). On ISOTROPIC high-dim data
    * concentration of measure pins every angle near 90 deg with std
    * ~57/sqrt(dim) degrees (d=64: ~7 deg), so a SINGLE pivot keeps
    * ~3/4 of the pair space — the round-4 scale-killer — but p pivots
    * keep ~(3/4)^p, restoring a multiplicative knob that works on the
    * distribution where it is needed most (AnnSpec measures the
    * multiplication on the isotropic gate corpus). The explode is the
    * price: (2m+1)^p probe rows — at the standard width = acos(tau)
    * setting, 3^p — carrying only (id, p thetas), never the vector
    * (vectors are fetched by id AFTER pruning). Zero vectors carry no
    * angle and are excluded (cosine with them is undefined). */
  def angleBandCandidates(
      vectors: DataFrame, // (vec_id, vec)
      tau: Double,
      bandWidthDeg: Double = 5.0,
      numPivots: Int = 3,
      // pass [[orthoPivots]] output to skip the per-call pivot-selection
      // Spark job when banding the same corpus repeatedly; any fixed
      // directions are CORRECT (the reverse triangle inequality needs no
      // orthogonality), orthogonal ones just prune best
      pivots: Option[Seq[Array[Double]]] = None): DataFrame = {
    require(tau > -1.0 && tau < 1.0 && bandWidthDeg > 0 && numPivots >= 1)
    val spark = vectors.sparkSession
    register(spark)
    val maxDeltaDeg = math.toDegrees(math.acos(tau))
    val m = math.ceil(maxDeltaDeg / bandWidthDeg).toLong
    // Explode budget: each pivot multiplies the probe side by (2m+1), so
    // a narrow band width (m >> 1) with several pivots is a combinatorial
    // blowup — at width 2 deg and tau 0.6, 3 pivots would be 55^3 = 166k
    // probe rows per vector, which costs far more to shuffle than the
    // extra pivots prune. Use only as many pivots as fit a fixed combo
    // budget (>= 1 always). At the standard width = acos(tau) setting
    // (m = 1) the default 3 pivots cost 27 combos and always fit, and a
    // 4th exactly fills the budget. The 4th pivot is a SCALE knob, not a
    // default: it multiplies isotropic retention by another ~3/4 but
    // triples the probe fan-out, so it pays only once candidate volume
    // (corpus-quadratic) dominates probe rows (corpus-linear) — measured
    // 1.45x at sf1 (7.18 -> 4.94 s full operator) and ~0.5 s SLOWER at
    // sf0.1 (OPTIMIZATION_r07.md, q57). Callers at corpus scale pass
    // numPivots = 4; callers
    // who narrow the bands implicitly trade pivots for band resolution.
    val maxCombos = 81
    val perPivot = 2 * m + 1
    val pBudget = math.max(1, (math.log(maxCombos) / math.log(perPivot.toDouble)).toInt)
    val pvs = pivots.map(_.take(pBudget))
      .getOrElse(orthoPivots(vectors, math.min(numPivots, pBudget)))
    require(pvs.nonEmpty, "angleBandCandidates needs at least one pivot")
    require(pvs.forall(p => p.exists(_ != 0.0)),
      "angleBandCandidates pivots must be non-zero (cosine would be undefined)")
    val p = pvs.length // <= requested on rank-deficient corpora
    // r7: spread a small input (guide §2.5) — the band join broadcasts
    // its build side, so the ENTIRE candidate expansion + angle prefilter
    // + downstream exact-cosine chain runs at the STREAM side's
    // partitioning; an unspread gate-scale scan would pin all of it to
    // one or two cores. Identity at real scale (see spreadSmall).
    val nz = spreadSmall(vectors.filter(sqNorm(col("vec")) > 0))
      .select(col("vec_id") +: pvs.zipWithIndex.map { case (pv, i) =>
        degrees(acos(least(lit(1.0), greatest(lit(-1.0),
          cosine(col("vec"), typedLit(pv.toSeq)))))).as(s"th$i")
      }: _*)
    val bandCols = (0 until p).map(i => s"band$i")
    // r7: angles ride the band join as p SCALAR double columns, not an
    // array — the candidate exchange row sheds the ArrayData header/null
    // words (~24 B/row at p=3) and the O(p) prefilter reads fields
    // directly instead of per-row array element access; the public
    // (a, b, ta, tb) schema is reassembled AFTER the filter (and pruned
    // away entirely by consumers like pairsAngleBanded that only take the
    // ids).
    val left = nz.select(
      col("vec_id").as("a") +:
        ((0 until p).map(i => col(s"th$i").as(s"__ta$i")) ++
          (0 until p).map(i => floor(col(s"th$i") / lit(bandWidthDeg)).cast("long").as(s"band$i"))): _*)
    // probe side: ONE Generate over the plan-literal offset-combo array —
    // the (2m+1)^p <= maxCombos neighbour tuples — instead of p chained
    // explode(sequence(...)) Generates each allocating a fresh ArrayData
    // per input row (r7; same tuple set, each pair still meets on the
    // single tuple bands(a))
    val offs: Seq[Seq[Long]] = (0 until p).foldLeft(Seq(Seq.empty[Long])) {
      (acc, _) => acc.flatMap(t => (-m to m).map(o => t :+ o))
    }
    val right = nz.select(
      col("vec_id").as("b") +:
        ((0 until p).map(i => col(s"th$i").as(s"__tb$i")) ++
          (0 until p).map(i => floor(col(s"th$i") / lit(bandWidthDeg)).cast("long").as(s"c$i"))): _*)
      .select(col("*"), explode(typedLit(offs)).as("__off"))
      .select(col("b") +:
        ((0 until p).map(i => col(s"__tb$i")) ++
          (0 until p).map(i => (col(s"c$i") + col("__off")(i)).as(s"band$i"))): _*)
    left.join(right, bandCols)
      .filter(col("a") < col("b"))
      .filter((0 until p) // O(p) pre-verify, codegen'd scalar comparisons
        .map(i => abs(col(s"__ta$i") - col(s"__tb$i")) <= lit(maxDeltaDeg))
        .reduce(_ && _))
      .select(col("a"), col("b"),
        array((0 until p).map(i => col(s"__ta$i")): _*).as("ta"),
        array((0 until p).map(i => col(s"__tb$i")): _*).as("tb"))
  }

  /** EXACT cosine near-dup pairs for the HIGH-threshold regime
    * (near-duplicate detection at cos >= ~0.9): the multi-pivot
    * angle-band candidates ([[angleBandCandidates]] — no false
    * negatives), vectors fetched by id AFTER pruning (so the band
    * exchange moves p angles per row, never dim doubles times the
    * neighbour explode), and the exact O(dim) cosine applied HERE —
    * the result equals the brute-force cosine >= tau filter exactly
    * (spec-proven; no caller-side re-filter needed).
    * Returns (a, va, b, vb, cos). */
  def pairsAngleBanded(
      vectors: DataFrame, // (vec_id, vec)
      tau: Double,
      bandWidthDeg: Double = 5.0,
      numPivots: Int = 3,
      pivots: Option[Seq[Array[Double]]] = None): DataFrame = {
    val cand = angleBandCandidates(vectors, tau, bandWidthDeg, numPivots, pivots)
    // r7: norms ride along from the per-vector fetch, so the per-pair
    // cosine is ONE dot product (cosineFromNorms — bit-identical to
    // cosine(va, vb), see VecOps.norm)
    //
    // r7, fetch-join strategy (guide §3 "pick the strategy deliberately"):
    // the candidate stream is output-pair-driven — typically ORDERS OF
    // MAGNITUDE larger than the vector table — and the default planner
    // turns both fetch joins into sort-merge the moment the vector side
    // crosses the 10 MB broadcast threshold, SORTING the candidate
    // stream twice (the second time at full vector width: at sf1 that is
    // ~3e8 rows x ~540 B — a disk-filling spill sort measured at 414 s
    // for the whole query). Neither sort buys anything: pick explicitly —
    //   - vector side fits executor working memory (parameterised bound,
    //     spark.graft.fetchBroadcastBytes, default 128 MB): broadcast it;
    //     the candidate stream is never exchanged at all;
    //   - larger: SHUFFLE_HASH on the vector side — same exchanges a
    //     sort-merge join would do, but the per-partition hash build is
    //     on the SMALL side and the wide candidate stream is never
    //     sorted. (At 10^9+ vectors the per-partition build is
    //     |V|/partitions rows — the standard shuffled-hash regime.)
    // See the shared [[fetchSide]] helper (also used by ivfPairs).
    cand.select("a", "b")
      .join(fetchSide(vectors.select(col("vec_id").as("a"), col("vec").as("va"),
        norm(col("vec")).as("__na"))), Seq("a"))
      .join(fetchSide(vectors.select(col("vec_id").as("b"), col("vec").as("vb"),
        norm(col("vec")).as("__nb"))), Seq("b"))
      .withColumn("cos", cosineFromNorms(col("va"), col("vb"), col("__na"), col("__nb")))
      .filter(col("cos") >= lit(tau))
      .select("a", "va", "b", "vb", "cos")
  }

  /** IVF query: probe the nprobe nearest clusters per query, exact cosine
    * within the probed candidate set. */
  def ivfTopK(
      index: DataFrame, // (cluster, vec_id, vec)
      centroids: Seq[(Int, Array[Double])],
      queries: DataFrame, // (q_id, qvec)
      k: Int,
      nprobe: Int): DataFrame = {
    register(index.sparkSession)
    // probe selection runs as a narrow array expression per query row:
    // distance to every centroid, array_sort on (d, cluster) — the same
    // tie-break as the old window — then slice the first nprobe.
    val sorted = array_sort(transform(
      centroidLit(centroids),
      c => struct(sqDist(col("qvec"), c.getField("centroid")).as("d"),
        c.getField("cluster").as("cluster"))))
    val probeClusters = transform(slice(sorted, 1, nprobe), s => s.getField("cluster"))
    val probes = queries
      .withColumn("cluster", explode(probeClusters))
      .select("q_id", "qvec", "cluster")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    index.join(broadcast(probes), Seq("cluster"))
      .withColumn("cos", cosine(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }
}
