package graft

/** One shared session for the whole test JVM (forked by sbt). Pinned to 4
  * threads and 4 shuffle partitions, so what a test observes (partition
  * and file counts) does not follow the host's core count.
  */
object SparkSuite {
  lazy val spark = Main.session("graft-test", 4)
}
