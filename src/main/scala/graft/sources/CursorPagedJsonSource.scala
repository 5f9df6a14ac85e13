package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** DataSource V2 connector for CURSOR-FOLLOWING pagination — the executable
  * twin of the reference transport's runtime `Link: rel="next"` walk
  * (`main.py:90-93`, `resp.links["next"]`), which the listing-based
  * [[PagedJsonSource]] cannot model: there the page space is enumerable up
  * front; here each page's successor is KNOWN ONLY from the page itself,
  * exactly like a live paginated HTTP API.
  *
  * Page archive format is an HTTP response capture (status line + headers +
  * blank line + body — the layout crawl archives store), so the "transport"
  * is byte-faithful to what a live fetch returns; a live-HTTP variant swaps
  * the byte source and keeps the header-walk and reader logic unchanged.
  *
  * Scale design: pagination cursors are INHERENTLY sequential — the next
  * page's identity does not exist until the current one is fetched (the
  * reference pays this cost too, one GET at a time). The split that keeps a
  * cluster busy anyway:
  *   - chain DISCOVERY (driver, [[walkChains]]): per chain directory,
  *     follow `Link` headers reading HEADERS ONLY — O(pages) tiny reads,
  *     done concurrently across chains (one endpoint ≙ one chain; a lake
  *     has many);
  *   - page BODIES: one InputPartition per discovered page, fetched in
  *     parallel by executors with the shared bounded-backoff [[RetryPolicy]]
  *     through the same reader as the listing source.
  * Cycle/missing-start chains fail loudly at plan time — a silent partial
  * chain would be dropped data. Like a live API, the walk writes nothing
  * back: every plan re-walks, so a re-read always sees the current chain.
  *
  * Usage: `spark.read.format("graft.sources.CursorPagedJsonSource")
  * .load(dir)` where `dir/<chain>/start.json` heads each chain. Output
  * schema matches [[PagedJsonSource]]: (value STRING, src_file STRING).
  */
class CursorPagedJsonSource extends PagedJsonSource {
  override protected def tableKind: String = "cursor_paged_json"

  override protected def planPages(fs: FileSystem, root: HPath): Seq[PagePartition] =
    CursorPagedJsonSource.walkChains(fs, root)
      .map(f => PagePartition(f.toString, httpCapture = true))
}

object CursorPagedJsonSource {
  val StartPage = "start.json"
  private val LinkHeader = """Link: <([^>]+)>; rel="next"""".r

  /** A cursor token names a sibling page file and nothing else — a token
    * containing a path separator or `..` would resolve OUTSIDE the chain
    * directory and read unrelated files into the dataset (ADVICE r7:
    * path traversal via archive content).
    */
  private def validateToken(token: String, chainDir: HPath): String = {
    if (token.isEmpty || token == "." || token == ".." ||
        token.contains('/') || token.contains('\\'))
      throw new IllegalStateException(
        s"CursorPagedJsonSource: cursor token '$token' at $chainDir is not a " +
          "plain sibling file name — refusing a path that could escape the " +
          "chain directory.")
    token
  }

  /** Next-page token of one page: reads the response-capture HEADER block
    * (status line + headers, up to the blank separator) and stops — body
    * size is irrelevant to the walk.
    */
  private def nextLink(fs: FileSystem, file: HPath): Option[String] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(file), "UTF-8"))
    try {
      var link: Option[String] = None
      var line = in.readLine()
      require(line != null && line.startsWith("HTTP/"),
        s"$file is not a response capture (missing status line)")
      line = in.readLine()
      while (line != null && line.nonEmpty) {
        LinkHeader.findFirstMatchIn(line).foreach(m => link = Some(m.group(1)))
        line = in.readLine()
      }
      link
    } finally in.close()
  }

  /** Follows one chain from `start.json`, failing loudly on a missing head,
    * a dangling link, a traversal-shaped token, or a cycle. Returns page
    * files in fetch order.
    */
  private def walkChain(fs: FileSystem, chainDir: HPath): Seq[HPath] = {
    val pages = mutable.ArrayBuffer[HPath]()
    val seen = mutable.HashSet[String]()
    var cur: Option[String] = Some(StartPage)
    while (cur.isDefined) {
      val token = validateToken(cur.get, chainDir)
      if (!seen.add(token))
        throw new IllegalStateException(
          s"CursorPagedJsonSource: cursor cycle at $chainDir/$token — " +
            "the chain revisits a page; refusing to emit duplicated data.")
      val file = new HPath(chainDir, token)
      if (!fs.exists(file))
        throw new IllegalStateException(
          s"CursorPagedJsonSource: dangling cursor $chainDir/$token — " +
            "a linked page is missing; refusing to emit a silently " +
            "truncated chain.")
      pages += file
      cur = nextLink(fs, file)
    }
    pages.toSeq
  }

  /** Chain dirs = directories containing a `start.json` head (any depth of
    * partition-style nesting above them); each is walked by link-following —
    * the page list is NOT obtainable by listing, the tokens are opaque.
    */
  private def walkChains(fs: FileSystem, root: HPath): Seq[HPath] = {
    val chains = mutable.ArrayBuffer[HPath]()
    def findChains(dir: HPath): Unit = {
      val entries = fs.listStatus(dir)
      if (entries.exists(e => e.isFile && e.getPath.getName == StartPage)) chains += dir
      entries.filter(_.isDirectory)
        .filterNot(e => e.getPath.getName.startsWith("_"))
        .foreach(e => findChains(e.getPath))
    }
    findChains(root)
    require(chains.nonEmpty,
      s"CursorPagedJsonSource: no chain heads ($StartPage) under $root")
    // Each chain's walk is inherently sequential (that is what a cursor IS),
    // but chains are independent — walk them CONCURRENTLY so discovery
    // latency is max(chain length), not sum. Bounded pool: header reads are
    // tiny I/O-bound requests; 16 in flight saturates a metadata service
    // without hammering it.
    val sorted = chains.sortBy(_.toString).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, sorted.size)))
    try {
      val futures = sorted.map(c => pool.submit(
        new java.util.concurrent.Callable[Seq[HPath]] {
          override def call(): Seq[HPath] = walkChain(fs, c)
        }))
      futures.flatMap { f =>
        try f.get()
        catch {
          // keep the connector's fail-loud contract: callers see the walk's
          // own IllegalStateException, not the executor's wrapper — and the
          // other in-flight walks are cancelled, the plan is already dead
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }
}
