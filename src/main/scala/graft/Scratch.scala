package graft

/** The one directory the engine's streaming checkpoints, stores, staged
  * files and scratch warehouses live under: `Scratch.dir(name)` is
  * `<root>/<name>`.
  *
  * [[root]] is `target/scratch` under the working directory, so a run
  * started from the checkout (sbt's forked tests, `runMain`) writes into
  * that checkout's own `target/scratch`, and a run started elsewhere (a
  * benchmark work dir) writes under its own directory.
  */
object Scratch {
  val root: String = new java.io.File("target/scratch").getAbsolutePath

  def dir(name: String): String = s"$root/$name"

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def clear(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}
