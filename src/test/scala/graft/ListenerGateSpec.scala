package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate beside [[StyleGateSpec]]: the engine has ONE Spark listener,
  * `graft.obs.JobLedger`. Job, stage, task and CPU counts for Bench, the
  * diagnostic tool and the job-budget tests all come from it; a second
  * hand-rolled listener fails here instead of drifting from the first.
  */
class ListenerGateSpec extends AnyFunSuite {

  test("src/main holds exactly one SparkListener, the JobLedger") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // qualified or not, and the listener trait and firehose base too
    val listener =
      """(extends|new|with)\s+([\w.]+\.)?Spark(Firehose)?Listener(Interface)?\b""".r
    val hits = walk(new java.io.File("src/main")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.split("\n").zipWithIndex.collect {
        case (l, i) if listener.findFirstIn(l).nonEmpty => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.size == 1 && hits.head.contains("graft/obs/JobLedger.scala"),
      s"expected only graft.obs.JobLedger, found:\n${hits.mkString("\n")}")
  }
}
