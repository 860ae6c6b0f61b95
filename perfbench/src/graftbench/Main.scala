package graftbench

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A pass is one closed-loop operation:
  * the next pass starts only after the previous one has ended. */
trait Workload {
  /** What a pass hands to `check`, `discard`, `items` and `layers`. */
  type Out
  /** Inputs and every reusable artifact; counted in `setup_s`. */
  def setup(spark: SparkSession): Unit
  /** One timed operation; `tr` records spans in the traced pass only. */
  def pass(spark: SparkSession, tr: Tracer): Out
  /** Problems found in a pass's output (empty = correct); run outside
    * the timed window. */
  def check(r: Out): Seq[String]
  /** Readies the next pass's inputs, outside the timed window. */
  def prepare(): Unit = ()
  /** Frees what a pass left behind (output files), outside the window. */
  def discard(r: Out): Unit = ()
  /** Units of work in one pass, for `items_per_s`. */
  def items(r: Out): Double
  /** Untimed passes before the window: the first compiles and loads
    * classes, the next still run while the JIT recompiles hot paths. */
  def warmPasses: Int = 2
  /** Whether the traced run also times a pass at local[1]. */
  def measuresScaling: Boolean = true
  /** Workload-specific layer numbers from the traced pass. */
  def layers(spark: SparkSession, r: Out, tr: Tracer, counters: SparkCounters,
      untracedWall: Double): Seq[(String, Double, String)]
}

/** The benchmark's JVM: builds the session, runs set-up, the warm passes and
  * the closed loop of timed passes, checks every pass, and prints one JSON
  * result line. Usage:
  * {{{
  * graftbench.Main --workload <tiling|pages_join|gates> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *   --bench-dir <dir> [--pre-setup-s <s>] [--sf <dir>] [--trace-out <file>]
  * }}}
  * Exit code 0 when every pass was correct, 1 otherwise. */
object Main {

  def session(cores: Int, parts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.publishRoot", s"$work/publish")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection, in MB. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    val u = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    u.getUsed / 1048576.0
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = arg("work")
    val cores = arg("cores").toInt
    val preSetup = args.get("pre-setup-s").map(_.toDouble).getOrElse(0.0)
    def log(msg: String): Unit =
      System.err.println(f"[graftbench] +${(System.nanoTime() - t0) / 1e9}%.1f s $name: $msg")
    Pinned.load(arg("bench-dir"))
    val workload: Workload = name match {
      case "tiling" => new Tiling(seed, work, cores)
      case "pages_join" => new PagesJoin(seed, work, cores)
      case "gates" => new Gates(arg("sf"))
      case other => sys.error(s"unknown workload $other")
    }

    var attempted = 0L
    var failed = 0L
    var passGc = 0.0 // GC seconds inside the last pass's window
    /** Runs one pass; a pass that throws or checks wrong counts as failed
      * and its time is dropped, never kept as a fast success. */
    def attempt(spark: SparkSession, tr: Tracer): Option[(Double, workload.Out)] = {
      attempted += 1
      workload.prepare()
      System.gc()
      val cpu0 = cpuSeconds()
      val gc0 = gcSeconds()
      val start = System.nanoTime()
      val outcome =
        try Right(workload.pass(spark, tr))
        catch { case e: Throwable => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - start) / 1e9
      passGc = gcSeconds() - gc0
      val usage = f"cpu ${cpuSeconds() - cpu0}%.2f s, gc $passGc%.2f s"
      val problems = outcome match {
        case Left(err) => Seq(err)
        case Right(r) =>
          try workload.check(r)
          catch { case e: Throwable => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
      }
      log(f"pass $attempted: $wall%.3f s ($usage)" + (if (problems.isEmpty) ", checked" else ""))
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => log(s"pass $attempted FAILED: $p"))
        outcome.foreach(workload.discard)
        None
      } else outcome.toOption.map(r => (wall, r))
    }

    var spark = session(cores, cores, work)
    log("session started")
    workload.setup(spark)
    val inputsS = (System.nanoTime() - t0) / 1e9
    log("inputs made")
    val off = new Tracer("off", enabled = false)
    val warm = (1 to workload.warmPasses).flatMap { _ =>
      attempt(spark, off).map { case (w, r) => workload.discard(r); w }
    }
    // checking the warm passes is not set-up work
    val setupS = preSetup + inputsS + warm.sum

    // closed loop: passes back to back until `seconds` of pass time
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var itemsPerPass = 0.0
    var peakHeap = 0.0
    val gcs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (walls.sum < seconds && failed == 0) {
      attempt(spark, off).foreach { case (w, r) =>
        walls += w
        gcs += passGc
        itemsPerPass = workload.items(r)
        workload.discard(r)
      }
      peakHeap = math.max(peakHeap, heapAfterGcMb())
    }
    val gcPerPass = if (gcs.isEmpty) 0.0 else gcs.sum / gcs.size
    val wall = if (walls.isEmpty) Double.NaN else median(walls.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (walls.isEmpty) Nil
      else if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("items_per_s", itemsPerPass / wall, "1/s"),
        ("peak_heap_mb", peakHeap, "MB"))
      else {
        val tr = new Tracer(s"$name-seed$seed-${java.util.UUID.randomUUID().toString.take(8)}", true)
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        counters.start()
        val tracedPass = attempt(spark, tr)
        counters.stop(spark.sparkContext)
        val tracedWall = tracedPass.map(_._1).getOrElse(Double.NaN)
        val generic = Seq(
          ("engine.traced_wall_s", tracedWall, "s"),
          ("trace.overhead_ratio", tracedWall / wall, "ratio"),
          ("spark.jobs", counters.jobs.toDouble, "count"),
          ("spark.stages", counters.stages.toDouble, "count"),
          ("spark.tasks", counters.tasks.toDouble, "count"),
          ("spark.shuffle_write_bytes", counters.shuffleWriteBytes.toDouble, "B"),
          ("spark.task_max_over_median", counters.taskMaxOverMedian(cores), "ratio"),
          ("jvm.gc_s_per_pass", gcPerPass, "s"))
        val spill = counters.spillBytes.toDouble
        val layerRows = tracedPass.toSeq.flatMap { case (_, r) =>
          try workload.layers(spark, r, tr, counters, wall)
          catch { case e: Exception =>
            failed += 1
            log(s"traced layers FAILED: ${e.getClass.getName}: ${e.getMessage}")
            Nil
          } finally workload.discard(r)
        }
        log("layers measured")
        val probes = Probes.run(spark, seed, work, tr)
        log("probes measured")
        // scaling: the same pass at local[1] against the median at local[cores]
        val scaling =
          if (!workload.measuresScaling) Nil
          else {
            spark.stop()
            spark = session(1, cores, work)
            val one = attempt(spark, off)
            one.foreach { case (_, r) => workload.discard(r) }
            one.toSeq.map { case (w1, _) => ("spark.scaling_eff_1vN", (w1 / wall) / cores, "ratio") }
          }
        val detail = layerRows ++ scaling ++ Seq(
          ("spark.spill_bytes", spill, "B"),
          ("trace.overhead_s", tracedWall - wall, "s"),
          ("e2e.untraced_wall_s", wall, "s"))
        detail.foreach { case (k, v, u) => println(s"layer $k = $v $u") }
        args.get("trace-out").foreach { out =>
          val layerJson = Json.metrics(probes ++ generic ++ detail)
          graft.core.Fs.writeString(out,
            s"""{"run_id":${Json.str(tr.runId)},"workload":${Json.str(name)},"seed":$seed,""" +
              s""""cores":$cores,"layers":$layerJson,"spans":${tr.toJson}}""" + "\n")
        }
        probes ++ generic
      }
    spark.stop()

    val measured = metrics.filter(m => java.lang.Double.isFinite(m._2))
    val correct = failed == 0 && walls.nonEmpty && measured.size == metrics.size
    val metricJson = Json.metrics(measured)
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricJson}""")
    sys.exit(if (correct) 0 else 1)
  }
}
