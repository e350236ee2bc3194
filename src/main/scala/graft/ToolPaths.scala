package graft

/** Resolves the dev tools' durable output files (`tools/bench_last.json`,
  * `tools/scalecheck.json`, `tools/streamcheck.json`, the bench reference)
  * against the REPO ROOT rather than the process CWD: sbt may be launched
  * from anywhere, and a CWD-relative write would silently land the durable
  * record elsewhere — defeating the "stdout tail truncates, the file is
  * the durable copy" rationale. Override with SPARK_GRAFT_REPO; otherwise
  * the CWD is used only when it actually contains the tools/ directory.
  */
object ToolPaths {
  def repoRoot: String = sys.env.getOrElse("SPARK_GRAFT_REPO",
    if (new java.io.File("tools").isDirectory) "." else "/root/repo")
  def resolve(rel: String): String =
    if (new java.io.File(rel).isAbsolute) rel
    else new java.io.File(repoRoot, rel).getPath

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so no exception message or SQL text can break the
    * record that carries it.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Prints a main's one-line JSON record and writes it to `rel`. */
  def publish(tag: String, rel: String, record: String): Unit = {
    println(record)
    val out = resolve(rel)
    val w = new java.io.PrintWriter(out)
    try w.println(record) finally w.close()
    System.err.println(s"[$tag] wrote $out")
  }
}
