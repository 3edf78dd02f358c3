package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileUtil

/** The run's one scratch directory, under which every registry sink and
  * `mem:` HDF5 container writes: no run reads what another left, and two
  * runs over one input never collide. Created on first use under
  * `java.io.tmpdir`; deleted with all it holds when the JVM exits. */
object Scratch {

  lazy val root: Path = {
    val r = Files.createTempDirectory("graft-run-")
    sys.addShutdownHook(deleteRecursively(r))
    r
  }

  def path(name: String): String = root.resolve(name).toString

  /** Delete `p` and all under it, not following symlinks. */
  def deleteRecursively(p: Path): Unit = FileUtil.fullyDelete(p.toFile)
}
