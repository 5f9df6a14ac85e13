package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the reference's paginated-source semantics
  * (SURVEY §2.1 ops #1-3, `main.py:85-115`): the transport yields raw PAGES;
  * parsing is downstream's job (`from_json` + `explode`), mirroring the
  * reference's `get_pages` → `_extract_*` split.
  *
  * Scale design (the point of the exercise): `planInputPartitions` returns
  * ONE InputPartition PER PAGE — the DSv2 analogue of "partitions = page
  * ranges" (SURVEY §1.1). A thousand executors fetch a thousand pages
  * concurrently; no driver-side fan-in. Here pages are the raw-zone files a
  * prior extract archived; a live-HTTP variant would swap the reader's
  * byte source and keep every interface the same.
  *
  * One connector, two ways to find pages: this provider LISTS the page
  * files; [[CursorPagedJsonSource]] overrides only [[planPages]] to walk
  * `Link: rel="next"` headers. Both share the table, scan, partition and
  * reader below, and planning only reads the archive, never writes to it.
  *
  * Usage: `spark.read.format("graft.sources.PagedJsonSource").load(dir)`
  * → rows (value: STRING page payload, src_file: STRING provenance).
  */
class PagedJsonSource extends TableProvider {
  protected def tableKind: String = "paged_json"

  /** The pages under `root`, one partition each, in read order: here every
    * file whose name does not start with `.` or `_` (checksums, markers).
    */
  protected def planPages(fs: FileSystem, root: HPath): Seq[PagePartition] = {
    val it = fs.listFiles(root, /* recursive = */ true)
    val files = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith(".") && !n.startsWith("_"))
        files += f.getPath.toString
    }
    files.sorted.map(PagePartition(_, httpCapture = false)).toSeq
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PagedJsonTable(tableKind, properties.get("path"), planPages)
}

object PagedJsonSource {
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("src_file", StringType)))
}

/** One page to fetch. An `httpCapture` page opens with an HTTP status line
  * and header block, which the reader skips — decided by the provider that
  * planned it, never by a user option.
  */
case class PagePartition(file: String, httpCapture: Boolean) extends InputPartition

class PagedJsonTable(kind: String, path: String,
    planPages: (FileSystem, HPath) => Seq[PagePartition])
    extends Table with SupportsRead {
  require(path != null && path.nonEmpty, s"$kind source requires .load(<path>)")
  override def name(): String = s"$kind:`$path`"
  override def schema(): StructType = PagedJsonSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new PagedJsonScan(path, planPages) }
}

class PagedJsonScan(path: String, planPages: (FileSystem, HPath) => Seq[PagePartition])
    extends Scan with Batch {
  override def readSchema(): StructType = PagedJsonSource.schema
  override def toBatch: Batch = this

  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration

  /** One partition per page — the pagination cursor space IS the
    * parallelism dimension.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val root = new HPath(path)
    planPages(root.getFileSystem(hadoopConf), root).toArray
  }

  /** Executors read with the driver's Hadoop conf (credentials, custom
    * filesystem schemes), serialized once with the factory, not per
    * partition.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    new PageReaderFactory(new SerializableConfiguration(hadoopConf))
}

/** Bounded exponential-backoff retry, mirroring the reference transport's
  * `SessionWithRetry` contract (`main.py:55-82`): at most `maxRetries`
  * retries after the first attempt, delays of base·2⁰, base·2¹, … between
  * attempts. Where the reference hands the still-failed response back to a
  * caller that raises, we rethrow the final failure — same observable
  * behavior: the task fails after exactly maxRetries + 1 attempts.
  * `sleep` is injectable so specs can count delays without waiting.
  */
object RetryPolicy {
  val DefaultMaxRetries = 3
  val DefaultBaseDelayMs = 500L

  /** Failures that can never heal with time — retrying them only delays the
    * inevitable rethrow by the full backoff schedule (ADVICE r3: a missing
    * page file cost ~3.5 s of blind sleeps before failing anyway).
    */
  private def nonTransient(e: Exception): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case _ => false
  }

  def withRetry[T](maxRetries: Int = DefaultMaxRetries,
      baseDelayMs: Long = DefaultBaseDelayMs,
      sleep: Long => Unit = Thread.sleep)(attempt: () => T): T = {
    var retryCount = 0
    while (true) {
      try return attempt()
      catch {
        // Spark cancels tasks by interrupting them — propagate immediately
        // (with the flag restored) instead of sleeping through the backoff
        // schedule while the scheduler waits (ADVICE r3).
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case e: Exception if nonTransient(e) => throw e
        case e: Exception =>
          if (retryCount < maxRetries) {
            // an interrupt landing DURING the backoff sleep must also leave
            // with the flag restored (ADVICE r4 — same scheduler-wait hazard
            // as above, just on the sleep path)
            try sleep(baseDelayMs << retryCount)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
                throw ie
            }
            retryCount += 1
          } else throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

class PageReaderFactory(conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[PagePartition]
    new PartitionReader[InternalRow] {
      // A "fetch" is atomic per page (like one HTTP GET): on failure the
      // WHOLE page is re-fetched — never resumed mid-stream, which could
      // silently drop or duplicate rows. Pages are bounded (per_page=100,
      // reference main.py:52), so buffering one page is O(page), not O(task).
      private lazy val lines: Iterator[String] = {
        val p = new HPath(page.file)
        RetryPolicy.withRetry() { () =>
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getFileSystem(conf.value).open(p), "UTF-8"))
          try {
            var line = in.readLine()
            // a capture's status line and headers served the plan-time walk
            if (page.httpCapture) {
              while (line != null && line.nonEmpty) line = in.readLine()
              line = in.readLine()
            }
            val buf = scala.collection.mutable.ArrayBuffer[String]()
            while (line != null) { buf += line; line = in.readLine() }
            buf.iterator
          } finally in.close()
        }
      }
      private var line: String = _
      override def next(): Boolean = {
        if (lines.hasNext) { line = lines.next(); true } else false
      }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(line), UTF8String.fromString(page.file))
      override def close(): Unit = ()
    }
  }
}
