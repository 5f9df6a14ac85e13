package pipebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Output checks. A result is a sequence of rows with columns in name
  * order; numbers compare as doubles to a relative 1e-9, so an engine
  * result and its DuckDB oracle agree whatever integer or decimal width
  * each engine chose. Row order is compared as returned: every checked
  * query orders its own output.
  */
object Check {
  type Rows = IndexedSeq[IndexedSeq[Any]]

  private def norm(v: Any): Any = v match {
    case null => null
    case n: java.math.BigDecimal => n.doubleValue
    case n: scala.math.BigDecimal => n.toDouble
    case n: java.lang.Number => n.doubleValue
    case s: scala.collection.Seq[_] => s.map(norm).toVector
    case r: Row => rowValues(r)
    case other => other
  }

  private def rowValues(r: Row): IndexedSeq[Any] = {
    val names = r.schema.fieldNames
    names.indices.sortBy(names(_)).map(i => norm(r.get(i)))
  }

  def rows(result: Array[Row]): Rows = result.toIndexedSeq.map(rowValues)

  def rows(df: DataFrame): Rows = rows(df.collect())

  def columns(df: DataFrame): Seq[String] = df.columns.toSeq.sorted

  /** Loads an answer file written by the generator or the oracle. */
  def expected(spark: SparkSession, path: String): (Seq[String], Rows) = {
    val df = spark.read.parquet(path)
    (columns(df), rows(df))
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: IndexedSeq[_], y: IndexedSeq[_]) =>
      x.size == y.size && x.indices.forall(i => same(x(i), y(i)))
    case _ => a == b
  }

  /** None when `got` equals `want`, else the first difference. */
  def diff(gotCols: Seq[String], got: Rows, wantCols: Seq[String],
      want: Rows): Option[String] =
    if (gotCols != wantCols) Some(s"columns $gotCols, expected $wantCols")
    else if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.indices.find(i => !same(got(i), want(i)))
      .map(i => s"row $i is ${got(i)}, expected ${want(i)}")

  /** Recall of `got` (query, neighbour) pairs against the exact ones. */
  def recall(got: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
    if (exact.isEmpty) 1.0 else exact.intersect(got).size.toDouble / exact.size

  /** The floor `AnnRecallSpec` holds every ANN path to. */
  val AnnRecallFloor = 0.9

  def recallFloor(recall: Double): Option[String] =
    if (recall >= AnnRecallFloor) None
    else Some(f"recall@5 $recall%.3f below $AnnRecallFloor")

  /** A near-dup ingest ledger (per language: n_new, dup_of_corpus,
    * dup_within_batch, admitted) against its exact bounds. The probe is
    * MinHash LSH, 64 hashes in 8 bands of 8: it verifies each candidate at
    * the exact J >= 0.8 and resolves identical shingle sets through the set
    * key, but a pair at J = 0.8 shares a band only with probability
    * 1 - (1 - 0.8^8)^8, about 0.77. So per language the ledger must have
    * the exact n_new, add up to it, and lie between `upper`, the exact
    * ledger at J >= 0.8, and `lower`, the exact ledger at J >= 1:
    * dup_of_corpus within [lower, upper], admitted within [upper, lower].
    */
  def neardupBounds(cols: Seq[String], got: Rows, upper: (Seq[String], Rows),
      lower: (Seq[String], Rows)): Option[String] = {
    val (uc, up) = upper
    val (lc, lo) = lower
    def v(r: IndexedSeq[Any], name: String): Any = r(cols.indexOf(name))
    def d(r: IndexedSeq[Any], name: String): Double = v(r, name) match {
      case x: Double => x
      case _ => Double.NaN
    }
    def within(x: Double, a: Double, b: Double): Boolean = a <= x && x <= b
    if (cols != uc || cols != lc) Some(s"columns $cols, expected $uc")
    else if (got.size != up.size || got.size != lo.size)
      Some(s"${got.size} rows, expected ${up.size}")
    else got.indices.iterator.map { i =>
      val (g, u, l) = (got(i), up(i), lo(i))
      val sum = d(g, "dup_of_corpus") + d(g, "dup_within_batch") + d(g, "admitted")
      if (v(g, "lang") != v(u, "lang") || v(l, "lang") != v(u, "lang") ||
          !same(v(g, "n_new"), v(u, "n_new")) || !same(v(l, "n_new"), v(u, "n_new")))
        Some(s"row $i is $g, expected the language and n_new of $u")
      else if (!same(sum, d(g, "n_new")))
        Some(s"row $i is $g, whose classes do not add up to n_new")
      else if (!within(d(g, "dup_of_corpus"), d(l, "dup_of_corpus"), d(u, "dup_of_corpus")) ||
          !within(d(g, "admitted"), d(u, "admitted"), d(l, "admitted")))
        Some(s"row $i is $g, outside the exact J >= 0.8 row $u and J >= 1 row $l")
      else None
    }.collectFirst { case Some(why) => why }
  }

  /** Batch documents the exact J >= 0.8 ledger `upper` counts as
    * near-duplicates and the probe's ledger admitted: its LSH misses.
    */
  def neardupMissed(cols: Seq[String], got: Rows, upper: Rows): Double = {
    val a = cols.indexOf("admitted")
    got.zip(upper).map { case (g, u) =>
      (g(a), u(a)) match {
        case (x: Double, y: Double) => x - y
        case _ => 0.0
      }
    }.sum
  }

  /** Zone builds seen in a pass against the number the pass must make. */
  def zoneBuilds(got: Long, want: Long): Option[String] =
    if (got == want) None
    else Some(s"ZoneBuildTally: $got zone builds in the pass, expected $want")

  /** Parses a header CSV written by `RawZone.writeWorkflowCsv` back into
    * rows ordered like `cols` (sorted names), values typed like the
    * compacted zone's projection.
    */
  def csvRows(dir: String, cols: Seq[String]): Rows = {
    val parts = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val lines = parts.sortBy(_.getName).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    if (lines.isEmpty) return Vector.empty
    val header = lines.head.split(",", -1).toSeq
    val order = cols.map(header.indexOf)
    lines.tail.filter(_.nonEmpty).map { line =>
      val f = line.split(",", -1)
      order.map { i =>
        header(i) match {
          case "event_type" => f(i)
          case _ => f(i).toDouble
        }
      }.toIndexedSeq
    }.toIndexedSeq
  }
}
