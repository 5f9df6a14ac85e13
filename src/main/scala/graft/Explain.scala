package graft

/** Plan auditor: prints the formatted physical plan of one or all declared
  * queries. Usage:
  *   sbt "runMain graft.Explain <sfDir> [queryName...]"
  * The scale checklist per plan: filters/columns pushed into the parquet
  * scan (PushedFilters / ReadSchema), broadcast where a side is small,
  * WholeStageCodegen spans wide, no CartesianProduct in a hot path, no
  * unexpected extra Exchange. Naming a zone-backed query and its cold twin
  * (`bm25_index_topk bm25_topk`) puts both plans side by side.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        // a query built but never run holds its caches; the next plan
        // must not read them
        finally spark.catalog.clearCache()
      }
    spark.stop()
  }
}
