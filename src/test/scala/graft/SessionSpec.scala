package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Engine.session` is the one session factory, and a session it builds
  * is complete at construction: nothing a query relies on is installed
  * later by whichever query happens to run first. */
class SessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("no SparkSession is built outside Engine.scala") {
    val needle = "SparkSession" + ".builder"
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val sources = scala(new java.io.File("src"))
    assert(sources.exists(_.getName == "Engine.scala"), "src/ not found from the test's working directory")
    val offenders = sources.filter(f => f.getName != "Engine.scala" &&
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(needle))
    assert(offenders.isEmpty, s"build sessions with Engine.session: ${offenders.mkString(", ")}")
  }

  test("the factory registers the six native kernels") {
    val listed = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect()
      .map(_.getString(0).split('.').last).toSet
    val kernels = Set("graft_cosine", "graft_hamming64", "graft_intl2",
      "graft_minhash16", "graft_overlap64", "graft_topk")
    assert(kernels.subsetOf(listed), s"missing: ${kernels -- listed}")
  }

  test("the factory installs the graft optimizer rules and the AsOf strategy") {
    import graft.plans._
    val rules = spark.experimental.extraOptimizations
    assert(rules.contains(SimplifySelfHamming) && rules.contains(LinearizeNullSafeCountAgg), rules)
    assert(spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
  }

  test("the factory pins ANSI off and one shuffle partition per local core") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "8") // local[8]
  }
}
