package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** `gates`: `SparkEntry.queries` on fixed synthetic tables (the seed does
  * not change them), warm. One pass runs the fixed gate sample `Sample`
  * (every domain, including the slowest leaves); the traced run also runs
  * every other gate once. Each result is collected and checked against its
  * pinned row count and order-insensitive digest. */
final class Gates(sfDir: String) extends Workload {
  import Gates._
  type Out = Gates.Out

  private val expected: Map[String, (Long, String)] = Pinned.gates
  /** Every gate but those reading fixture files outside the checkout. */
  private val all: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filterNot(Excluded.contains)

  def setup(spark: SparkSession): Unit = {
    val unknown = Sample.filterNot(all.contains)
    require(unknown.isEmpty, s"sampled gates not in SparkEntry.queries: ${unknown.mkString(", ")}")
  }

  private def runGates(spark: SparkSession, names: Seq[String], tr: Tracer): Out = {
    val results = names.map { n =>
      val fn = SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val r =
        try Right(tr.span(s"engine.queries.$n") {
          val df = fn(spark, sfDir)
          (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq, df.collect().toSeq)
        })
        catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      n -> (r, (System.nanoTime() - t0) / 1e9)
    }
    Out(results)
  }

  def pass(spark: SparkSession, tr: Tracer): Out = runGates(spark, Sample, tr)

  def check(o: Out): Seq[String] =
    o.results.flatMap {
      case (n, (Left(err), _)) => Seq(s"$n threw $err")
      case (n, (Right((schema, rows)), _)) =>
        val got = (rows.size.toLong, digest(schema, rows))
        if (expected.get(n).contains(got)) Nil
        else Seq(s"$n returned ${got._1} rows with digest ${got._2}, pinned ${expected.get(n)}")
    }

  def items(o: Out): Double = Sample.size.toDouble

  override def measuresScaling: Boolean = false

  def layers(spark: SparkSession, o: Out, tr: Tracer, counters: SparkCounters,
      untracedWall: Double): Seq[(String, Double, String)] = {
    // every other gate once, in name order, while the run has time left
    val rest = all.filterNot(Sample.contains)
    val deadline = System.nanoTime() + (SweepSeconds * 1e9).toLong
    val sweep = Out(rest.flatMap(n => if (System.nanoTime() < deadline) runGates(spark, Seq(n), tr).results else Nil))
    val problems = check(sweep)
    require(problems.isEmpty, s"gate sweep: ${problems.mkString("; ")}")
    val times = o.results ++ sweep.results
    val ok = times.collect { case (n, (Right(_), s)) => n -> s }
    val perGate = ok.sortBy(_._1).map { case (n, s) => (s"engine.queries.${n}_s", s, "s") }
    val perDomain = ok.groupBy { case (n, _) => domain(n) }.toSeq.sortBy(_._1).map {
      case (d, xs) => (s"engine.queries.${d}_s", xs.map(_._2).sum, "s")
    }
    perGate ++ perDomain ++ Seq(
      ("engine.queries.sampled", Sample.size.toDouble, "count"),
      ("engine.queries.swept", sweep.results.size.toDouble, "count"),
      ("engine.queries.not_swept", (rest.size - sweep.results.size).toDouble, "count"))
  }
}

object Gates {
  /** q50/q51 check the pyhgtmap reference's own goldens and read its test
    * fixture, which is not part of this repository. */
  val Excluded: Set[String] = Set("q50_contour_golden", "q51_chop_golden")
  /** Time the traced sweep may take, so the traced run ends in time. */
  val SweepSeconds = 80.0

  /** gate -> (schema and rows, or the exception; seconds) */
  final case class Out(results: Seq[(String, (Either[String, (Seq[(String, String)], Seq[Row])], Double))])

  /** Gates from six of the eight domains, about 6.5 s warm at sf0.1 on 4
    * cores, so the pass can repeat within a run. The slow leaves (q39,
    * q57, q34, q44, ...), graph and multimodal run in the traced sweep. */
  val Sample: Seq[String] = Seq(
    "q11_geo_pip", // geo
    "q56_crs_project", // raster
    "q21_minhash", "q26_text_roundtrip", // text
    "q31_ann_cosine_topk", // emb
    "q55_session_window", // stream
    "q05_event_sessions", "q17_asof_join") // rel

  private val Domains: Seq[(String, Seq[Int])] = Seq(
    "geo" -> Seq(10, 11, 12, 13, 14, 15, 16, 18, 56),
    "text" -> Seq(20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 35, 36, 37, 39, 45, 46, 47, 48, 49, 53, 54),
    "emb" -> Seq(30, 31, 32, 33, 34, 43, 57),
    "graph" -> Seq(52),
    "stream" -> Seq(40, 41, 42, 44, 55),
    "rel" -> Seq(1, 2, 3, 4, 5, 6, 7, 8, 17, 19),
    "raster" -> Seq(50, 51, 56),
    "multimodal" -> Seq(38))

  def domain(gate: String): String = {
    val n = gate.drop(1).takeWhile(_.isDigit).toInt
    Domains.collectFirst { case (d, ns) if ns.contains(n) => d }.getOrElse("other")
  }

  /** Order-insensitive digest of a result: columns in name order, each row
    * rendered canonically and hashed, the row hashes summed (wrapping), so
    * any row order gives the same digest and any changed value or row
    * count a different one. */
  def digest(schema: Seq[(String, String)], rows: Seq[Row]): String = {
    val order = schema.zipWithIndex.sortBy(_._1._1)
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { row =>
      md.reset()
      val line = order.map { case (_, i) => render(row.get(i)) }.mkString("\u0001")
      acc += java.nio.ByteBuffer.wrap(md.digest(line.getBytes("UTF-8"))).getLong
    }
    val head = order.map { case ((n, t), _) => s"$n:$t" }.mkString(",")
    md.reset()
    val h = java.nio.ByteBuffer.wrap(md.digest(head.getBytes("UTF-8"))).getLong
    java.lang.Long.toHexString(h ^ acc)
  }
}
