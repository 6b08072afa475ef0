package graft.tools

/** Best-effort recursive delete of a temp directory, used on every path
  * that writes scratch data: the registry's publish and stream queries'
  * workspaces, the bench's and the profiler's blown corpora (gigabytes at
  * factor 10), the benchmark's publish dir and the test specs. Never
  * throws; a file it cannot delete stays.
  */
object Cleanup {
  def deleteRecursively(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        // Files.walk holds open directory handles until closed
        val stream = java.nio.file.Files.walk(root)
        val all =
          try stream.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          finally stream.close()
        all.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
      }
    } catch { case _: Exception => () }
}
