package graft.core

import java.nio.file.{Files, Path}

/** One scratch folder per JVM for what the gates and probes write and
  * read back (round-trip files, caches, probe fixtures). It is created
  * under `java.io.tmpdir` on first use and deleted when the JVM exits. */
object Scratch {
  lazy val root: Path = {
    val p = Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(deleteTree(p))
    p
  }

  /** The path of `name` under [[root]]; the caller creates it. */
  def dir(name: String): String = root.resolve(name).toString

  /** Deletes `p` and everything below it, if it exists. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
