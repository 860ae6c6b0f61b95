package graftbench

/** Values pinned in `pinned.tsv` of the benchmark directory: per-seed
  * sizes of `tiling` and `pages_join` for the seeds recorded there, and the
  * row count and digest of every gate. A seed that is not recorded is
  * checked against the run's own oracle only. A mismatch message prints
  * the observed values, which are what to pin. */
object Pinned {
  private var rows: Seq[Array[String]] = Nil

  def load(benchDir: String): Unit = {
    rows = graft.core.Fs.readString(s"$benchDir/pinned.tsv").linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).toSeq
  }

  def tiling(seed: Long): Option[Tiling.Counts] =
    rows.collectFirst { case Array("tiling", s, t, w, n) if s.toLong == seed =>
      Tiling.Counts(t.toInt, w.toLong, n.toLong)
    }

  /** (polygons, join rows) */
  def pagesJoin(seed: Long): Option[(Long, Long)] =
    rows.collectFirst { case Array("pages_join", s, p, r) if s.toLong == seed => (p.toLong, r.toLong) }

  /** gate -> (rows, digest) */
  def gates: Map[String, (Long, String)] =
    rows.collect { case Array("gate", n, r, d) => n -> (r.toLong, d) }.toMap
}
