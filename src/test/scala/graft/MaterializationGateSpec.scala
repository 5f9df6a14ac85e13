package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate beside [[ListenerGateSpec]] for the one materialization rule
  * (see `TextOps.unpersistAfterAction`): a builder persists a frame only
  * when its plan reads it more than once, and the consuming action fills
  * the cache. A new `persist()` or a `count()` run only to fill a cache
  * fails here, and has to come with a reason and an updated bound. The same
  * scan keeps one per-group top-k: Spark's `row_number() <= k` window,
  * which Spark limits per partition before the shuffle, not a typed
  * aggregator with a Kryo buffer. And the engine plans with Spark's own
  * optimizer: no custom Catalyst rule rewrites its queries.
  */
class MaterializationGateSpec extends AnyFunSuite {

  /** (file name, code line) of every line of `src/main`, comments removed. */
  private lazy val codeLines: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.split("\n").toSeq
        .map(_.replaceAll("//.*$", ""))
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
        .map(l => f.getName -> l)
    }
  }

  test("src/main persists no more frames than it did when the rule was written") {
    val persists = codeLines.map { case (_, l) => """\.persist\(""".r.findAllIn(l).size }.sum
    assert(persists > 0, "the scan must see the engine's caches")
    assert(persists <= 31, s"src/main has $persists persist() calls, the bound is 31")
  }

  test("no count() in src/main is run only for its side effect, except the " +
      "connected-components loop's, the graph pair cache's and the tools' timed actions") {
    // a statement that is just `<expr>.count()`: its value is thrown away
    val discarded = """^\s*(else\s+)?[^=]*\.count\(\)(\s*:\s*Unit)?\s*$""".r
    val allowed = Set(
      // the connected-components loop: each iteration's one action fills
      // `next` and delivers the change count the loop reads; the other
      // fills the lineage cut it takes every 4 iterations
      "TextOps.scala" -> "next.count()",
      "TextOps.scala" -> "truncated.count()",
      // the graph pair cache: with AQE off the census joins are planned
      // from the filled cache's size (see GraphOps.cachedPairs)
      "GraphOps.scala" -> "pairs.count()",
      // the measured action of the bench and of the diagnostic tool
      "Bench.scala" -> "else df.count(): Unit",
      "QueryJobDiag.scala" -> "fn(spark, sfDir).count()")
    val hits = codeLines.collect {
      case (f, l) if discarded.findFirstIn(l).nonEmpty &&
          !l.trim.startsWith("return ") => f -> l.trim
    }
    assert(hits.toSet.intersect(allowed) === allowed, "the scan must see the allowed counts")
    val extra = hits.filterNot(allowed)
    assert(extra.isEmpty, s"counts whose value is discarded: ${extra.mkString("\n")}")
  }

  test("one top-k path: no udaf(, Encoders.kryo or typed Aggregator in src/main") {
    val banned = Seq("""\budaf\(""", """Encoders\.kryo\b""",
      """extends\s+([\w.]+\.)?Aggregator\b""").map(_.r)
    assert(codeLines.nonEmpty, "the scan must see the engine's sources")
    val hits = codeLines.collect {
      case (f, l) if banned.exists(_.findFirstIn(l).nonEmpty) => s"$f: ${l.trim}"
    }
    assert(hits.isEmpty, s"per-group top-k is row_number() <= k; found:\n${hits.mkString("\n")}")
  }

  test("no custom optimizer rule: no Rule[LogicalPlan], extraOptimizations or " +
      "injectOptimizerRule in src/main") {
    val banned = Seq("""Rule\[LogicalPlan\]""", """\bextraOptimizations\b""",
      """\binjectOptimizerRule\b""").map(_.r)
    assert(codeLines.nonEmpty, "the scan must see the engine's sources")
    val hits = codeLines.collect {
      case (f, l) if banned.exists(_.findFirstIn(l).nonEmpty) => s"$f: ${l.trim}"
    }
    assert(hits.isEmpty, s"src/main installs a custom optimizer rule:\n${hits.mkString("\n")}")
  }
}
