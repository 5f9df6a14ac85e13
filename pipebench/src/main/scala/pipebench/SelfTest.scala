package pipebench

/** The benchmark's checks must reject wrong answers: each case below feeds
  * one check a deliberately wrong output and fails if the check accepts it
  * (or rejects the right one).
  *
  * {{{
  *   SelfTest <dir for scratch files>
  * }}}
  * Prints one line per case and exits non-zero if any case fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: SelfTest <scratch dir>")
      sys.exit(2)
    }
    val cols = Seq("event_type", "id", "user_id", "value")
    val right: Check.Rows = Vector(
      Vector("click", 1.0, 7.0, 12.5),
      Vector("view", 2.0, 8.0, 1012.25),
      Vector("error", 3.0, 7.0, 2003.75))
    def mutate(i: Int, j: Int, v: Any): Check.Rows =
      right.updated(i, right(i).updated(j, v))
    val cases = Seq[(String, Option[String], Boolean)](
      ("identical rows", Check.diff(cols, right, cols, right), true),
      ("a stale value", Check.diff(cols, mutate(1, 3, 12.0), cols, right), false),
      ("a value off by one cent", Check.diff(cols, mutate(2, 3, 2003.76), cols, right), false),
      ("a wrong key", Check.diff(cols, mutate(0, 1, 4.0), cols, right), false),
      ("a null for a value", Check.diff(cols, mutate(0, 2, null), cols, right), false),
      ("a missing row", Check.diff(cols, right.init, cols, right), false),
      ("an extra row", Check.diff(cols, right :+ right.last, cols, right), false),
      ("rows out of order", Check.diff(cols, right.reverse, cols, right), false),
      ("a missing column", Check.diff(cols.init, right.map(_.init), cols, right), false),
      ("an integer for the same double",
        Check.diff(cols, mutate(0, 1, 1L.toDouble), cols, right), true),
      ("recall at the floor", Check.recallFloor(Check.AnnRecallFloor), true),
      ("recall below the floor",
        Check.recallFloor(Check.recall(Set((1L, 2L)), Set((1L, 2L), (1L, 3L)))), false),
      ("a near-dup ledger within its bounds", ledger(6, 3, 11), true),
      ("a near-dup ledger at the J >= 0.8 bound", ledger(7, 3, 10), true),
      ("a near-dup ledger at the J >= 1 bound", ledger(4, 3, 13), true),
      ("a near-dup the exact J >= 0.8 misses", ledger(8, 3, 9), false),
      ("a missed identical-set corpus dup", ledger(3, 3, 14), false),
      ("a missed identical-set batch dup", ledger(4, 2, 14), false),
      ("a ledger that misses a document", ledger(6, 3, 10), false),
      ("a ledger with a wrong n_new", ledger(6, 3, 11, n = 21), false),
      ("the LSH misses of a ledger", Some(Check.neardupMissed(ledgerCols,
        Vector(ledgerRow(6, 3, 11)), Vector(ledgerRow(7, 3, 10))))
        .filter(_ != 1.0).map("counted " + _), true),
      ("the expected zone builds", Check.zoneBuilds(3, 3), true),
      ("a zone build in a probe window", Check.zoneBuilds(1, 0), false),
      ("a cold pass that built nothing", Check.zoneBuilds(0, 3), false),
      ("the CSV as written", csvCase(args(0), right, cols, right), true),
      ("a CSV with a stale value", csvCase(args(0), mutate(1, 3, 12.0), cols, right), false))
    var failed = 0
    cases.foreach { case (name, verdict, shouldPass) =>
      val ok = verdict.isEmpty == shouldPass
      if (!ok) failed += 1
      println(f"${if (ok) "ok  " else "FAIL"} $name%-36s -> ${verdict.getOrElse("accepted")}")
    }
    if (failed > 0) sys.exit(1)
  }

  private val ledgerCols = Seq("admitted", "dup_of_corpus", "dup_within_batch", "lang", "n_new")

  private def ledgerRow(corpus: Int, within: Int, admitted: Int, n: Int = 20,
      lang: String = "en"): IndexedSeq[Any] =
    Vector(admitted.toDouble, corpus.toDouble, within.toDouble, lang, n.toDouble)

  /** A one-language near-dup ledger of 20 batch documents checked against
    * the exact ledgers: at J >= 0.8, 7 corpus dups, 3 batch dups, 10
    * admitted; at J >= 1, 4 corpus dups, 3 batch dups, 13 admitted.
    */
  private def ledger(corpus: Int, within: Int, admitted: Int, n: Int = 20): Option[String] = {
    val es = Vector(ledgerRow(1, 0, 4, 5, "es"))
    Check.neardupBounds(ledgerCols, es :+ ledgerRow(corpus, within, admitted, n),
      (ledgerCols, es :+ ledgerRow(7, 3, 10)), (ledgerCols, es :+ ledgerRow(4, 3, 13)))
  }

  /** Writes `rows` the way `RawZone.writeWorkflowCsv` lays out its output
    * (header, one part file) and checks the parse against `want`.
    */
  private def csvCase(dir: String, rows: Check.Rows, cols: Seq[String],
      want: Check.Rows): Option[String] = {
    val out = new java.io.File(dir, "csv")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    val header = "id,user_id,event_type,value"
    val lines = rows.map { r =>
      def long(x: Any) = x.asInstanceOf[Double].toLong.toString
      Seq(long(r(1)), long(r(2)), r(0).toString, r(3).toString).mkString(",")
    }
    java.nio.file.Files.write(new java.io.File(out, "part-00000-x.csv").toPath,
      (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    Check.diff(cols, Check.csvRows(out.getPath, cols), cols, want)
  }
}
