package pipebench

/** Writes the `SparkEntry.oracleSql` text of the named queries as one JSON
  * object, for the set-up step that runs them in DuckDB.
  *
  * {{{
  *   OracleDump <out.json> <query>...
  * }}}
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = args.drop(1).filterNot(sql.contains)
    if (args.isEmpty || missing.nonEmpty) {
      System.err.println(s"usage: OracleDump <out.json> <query>...; no oracle for ${missing.mkString(", ")}")
      sys.exit(2)
    }
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val body = args.drop(1).map(q => s"${str(q)}:${str(sql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.write(new java.io.File(args(0)).toPath, body.getBytes("UTF-8"))
  }
}
