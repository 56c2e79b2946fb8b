package graft

/** The source-tree scans behind the guard tests (GraftSessionSpec,
  * LeakSpec): paths are relative to the project root, where sbt runs the
  * suite. */
object SourceScan {

  /** Every `.scala` file under `dir`, recursively. */
  def scalaFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName.endsWith(".scala")) Seq(c)
        else Nil
      }
    walk(new java.io.File(dir))
  }

  /** The files among `files` whose text matches `pattern`. */
  def matching(files: Seq[java.io.File],
      pattern: scala.util.matching.Regex): Seq[java.io.File] =
    files.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try pattern.findFirstIn(src.mkString).isDefined finally src.close()
    }
}
