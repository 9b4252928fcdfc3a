package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole (forked) test JVM: local[8], so 8
  * shuffle partitions (suites that need a specific partition count set
  * and restore it themselves). Streaming offset, commit and state logs
  * go to tmpfs; checkpoint semantics are filesystem-independent, and
  * Verify and Bench keep the real-disk default. The checkpoint root is
  * emptied first, so checkpoints left by an earlier suite run are never
  * replayed. */
object TestSpark {
  private val CkptRoot = "/dev/shm/graft_ckpt"

  lazy val spark: SparkSession = {
    queries.Registry.rmTree(new java.io.File(CkptRoot))
    val s = Engine.session("graft-test", Some("local[8]"))
    s.conf.set("spark.graft.ckptRoot", CkptRoot)
    s
  }
  val Sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the graft optimizer rules off, then restores them.
    * The rules are session-wide, so callers run this leg alone. */
  def withoutGraftRules[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq.empty
    try body finally spark.experimental.extraOptimizations = saved
  }
}
