package pipebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One measured pass of a workload: every timed call goes through
  * [[call]] or [[query]], which time it as a span, count it as an
  * operation, and count it failed when it throws or its check rejects the
  * output. Checks and fixture moves run outside the spans.
  */
final class Pass(val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val phaseSeconds = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val extra = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val spanIds = mutable.ArrayBuffer.empty[Int]

  /** Seconds of the timed calls, which is the pass's `wall_s`. */
  def wallSeconds: Double = phaseSeconds.values.sum

  private def fail(what: String, why: String): Unit = {
    failed += 1
    failures += s"$what: $why"
  }

  private def timed[T](span: String, phase: String)(body: => T): Option[T] = {
    attempted += 1
    val id = tracer.spans.size
    spanIds += id
    try Some(tracer.span(span)(body))
    catch {
      case e: Throwable =>
        fail(span, e.toString.take(400))
        None
    } finally {
      val s = tracer.spans(id)
      if (s.end == 0L) s.end = System.nanoTime()
      phaseSeconds(phase) += s.seconds
    }
  }

  /** A check on the pass as a whole; a rejection counts as a failure. */
  def verify(what: String)(check: => Option[String]): Unit =
    check.foreach(fail(what, _))

  def lastSeconds: Double = tracer.spans(spanIds.last).seconds

  /** A call that is not a query: timed whole, checked after. */
  def call[T](span: String, phase: String)(body: => T)(
      check: T => Option[String] = (_: T) => None): Option[T] =
    timed(span, phase)(body).flatMap { r =>
      check(r) match {
        case Some(why) => fail(span, why); None
        case None => Some(r)
      }
    }

  /** A query call: `build` returns the DataFrame (running any eager jobs),
    * `action` consumes it; each is a child span of `span`.
    */
  def query[R](span: String, phase: String)(build: => DataFrame)(
      action: DataFrame => R)(check: R => Option[String]): Option[R] =
    call(span, phase) {
      val df = tracer.span(span + ".build")(build)
      tracer.span(span + ".action")(action(df))
    }(check)

  /** A collected query checked against an answer file's rows. */
  def collect(span: String, phase: String, want: (Seq[String], Check.Rows))(
      build: => DataFrame): Option[Array[Row]] = {
    var cols = Seq.empty[String]
    query(span, phase)(build) { df => cols = Check.columns(df); df.collect() } { got =>
      Check.diff(cols, Check.rows(got), want._1, want._2)
    }
  }

  def spans: Seq[Span] = spanIds.toSeq.map(tracer.spans(_))
}

trait Workload {
  /** Builds the indexes the timed calls probe; runs in set-up, timed. */
  def prebuild(): Unit = ()
  /** One closed-loop pass: one call at a time, in pipeline order. */
  def pass(p: Pass): Unit
}

/** Entry point of the benchmark JVM.
  *
  * {{{
  *   Harness <workload> <gen dir> <input dir> <seconds> <trace 0|1> <result json>
  * }}}
  * `<gen dir>` holds the generator's answers and refresh snapshots,
  * `<input dir>` its tables. The working directory must be the run's own
  * directory: the engine keys its zones on `target/<zone>/<input dir
  * name>` relative to it.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println("usage: Harness <workload> <gen dir> <input dir> " +
        "<seconds> <trace 0|1> <result json>")
      sys.exit(2)
    }
    val Array(workload, gen, inputArg, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val builder = SparkSession.builder()
      .appName("pipebench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File("spark-warehouse").getAbsolutePath)
    if (trace) builder.config(TriggerListener.Conf, classOf[TriggerListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
    // The DuckDB oracles run beside the JVM's start; wait for them here so
    // they never compete with the Spark work that follows.
    Oracle.awaitReady(gen)
    val sessionReady = System.currentTimeMillis()

    val input = new java.io.File(inputArg).getAbsolutePath
    val w: Workload = workload match {
      case "etl_lake" => new EtlLake(spark, input, gen)
      case "llm_corpus" => new LlmCorpus(spark, input, gen)
      case "llm_ingest" => new LlmIngest(spark, input, gen)
      case other => sys.error(s"unknown workload '$other'")
    }
    val tracer = new Tracer(spark.sparkContext)

    val tb = System.nanoTime()
    w.prebuild()
    val prebuild = (System.nanoTime() - tb) / 1e9
    // The first pass in a fresh JVM runs far slower (class loading, JIT,
    // Catalyst caches); it belongs to set-up, not to the measurement.
    val warm = new Pass(tracer)
    tracer.run = "warmup"
    val tw = System.nanoTime()
    w.pass(warm)
    val warmup = (System.nanoTime() - tw) / 1e9

    // Measured window: closed-loop passes while the next one is expected
    // to end within `seconds`. A traced run alternates untraced and traced
    // passes, at least untraced-traced-untraced, so one run gives the
    // per-layer counters and the tracing overhead against the untraced
    // passes on either side (the JVM is still warming between them).
    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean, Double, Double)]
    val minPasses = if (trace) 3 else 1
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.start()
      tracer.run = s"pass-$i"
      val p = new Pass(tracer)
      val g = gcSeconds()
      val c = processCpuSeconds()
      val tp = System.nanoTime()
      w.pass(p)
      last = (System.nanoTime() - tp) / 1e9
      val cpu = processCpuSeconds() - c
      val gc = gcSeconds() - g
      tracer.collect()
      if (traced) tracer.stop()
      passes += ((p, traced, gc, cpu))
      i += 1
    }

    val incl = tracer.inclusive()
    val json = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (json.length > 1) json.append(',')
      json.append('"').append(k).append("\":").append(v)
    }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    field("session_ready_ms", sessionReady.toString)
    field("prebuild_s", num(prebuild))
    field("warmup_s", num(warmup))
    field("warmup", s"""{"attempted":${warm.attempted},"failed":${warm.failed},""" +
      s""""failures":${warm.failures.map(str).mkString("[", ",", "]")}}""")
    field("passes", passes.map { case (p, traced, gc, cpu) =>
      val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      p.spans.foreach { s =>
        val c = incl.getOrElse(s.id, Map.empty[String, Double])
        layers(s.name + ".wall_s") += s.seconds
        c.foreach { case (k, v) => layers(s.name + "." + k) += v }
        val kids = tracer.spans.filter(_.parent == s.id)
        kids.foreach { k =>
          val kc = incl.getOrElse(k.id, Map.empty[String, Double])
          val half = k.name.stripPrefix(s.name + ".")
          layers(s.name + "." + half + "_s") += k.seconds
          layers(s.name + "." + half + "_jobs") += kc.getOrElse("jobs", 0.0)
        }
      }
      "{" + Seq(
        s""""traced":$traced""",
        s""""wall_s":${num(p.wallSeconds)}""",
        s""""gc_s":${num(gc)}""",
        s""""process_cpu_s":${num(cpu)}""",
        s""""attempted":${p.attempted}""",
        s""""failed":${p.failed}""",
        s""""failures":${p.failures.map(str).mkString("[", ",", "]")}""",
        s""""phases":${obj(p.phaseSeconds)}""",
        s""""extra":${obj(p.extra)}""",
        s""""layers":${obj(layers)}""").mkString(",") + "}"
    }.mkString("[", ",", "]"))
    field("stored_mb", num(dirBytes(new java.io.File("target")) / 1e6 +
      dirBytes(new java.io.File("out")) / 1e6))
    field("peak_rss_mb", num(peakRssMb()))
    json.append('}')
    writeSpans(tracer, "spans.json")
    java.nio.file.Files.write(new java.io.File(out).toPath,
      json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** CPU seconds of the whole JVM: Spark's task and scheduler threads,
    * the compiler and collector threads.
    */
  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The run's spans, one object per line: name, start, end, parent, run
    * and the counters attributed to the span itself.
    */
  private def writeSpans(tracer: Tracer, path: String): Unit = {
    val lines = tracer.spans.map { s =>
      val own = s.own.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"own":$own}"""
    }
    java.nio.file.Files.write(new java.io.File(path).toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
