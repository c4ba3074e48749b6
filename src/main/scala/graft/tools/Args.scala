package graft.tools

/** Argument checks the tools share. Each fails with the tool's usage
  * line, before any session starts.
  */
private[tools] object Args {
  def sfDir(path: String, usage: String): String = {
    require(new java.io.File(path).isDirectory, s"not a directory: $path\n$usage")
    path
  }

  def positiveInt(s: String, what: String, usage: String): Int = {
    val n = s.toIntOption.getOrElse(0)
    require(n > 0, s"$what must be a positive integer, got '$s'\n$usage")
    n
  }

  def queries(names: Seq[String], usage: String): Seq[String] = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}\n$usage")
    names
  }
}
