package perfbench

/** Where the engine's fixed scratch root points in the harness build
  * (see build.sbt): the `perfbench.scratch` system property, which
  * perfbench/run.py sets to a directory under the run's work dir.
  */
object Scratch {
  lazy val root: String = sys.props.getOrElse("perfbench.scratch",
    sys.error("perfbench.scratch is not set: launch the harness through perfbench/run.py"))
}
