package graft

/** Dev smoke runner mirroring the driver's t1 gate: `SparkEntry.entry`
  * on sf0.001 must return >0 rows. Usage: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Verify.session()
    // single execution: collect once, count + preview from the same rows
    val rows = SparkEntry.entry(spark).limit(21).collect()
    val n = rows.length
    rows.take(20).foreach(r => println(s"[smoke]   $r"))
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
