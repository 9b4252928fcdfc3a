package graft

import graft.functions.CacheOnce
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** CacheOnce's contract: a hit (equal deps, unchanged filesystem
  * fingerprint) returns the stored DataFrame without evaluating `build`;
  * changed deps, a rebuilt upstream key or an in-place fixture
  * regeneration rebuild the key and unpersist the old entry; a failed
  * build leaves nothing behind; and every literal key has one builder. */
class CacheOnceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fixture(name: String): String = {
    val dir = s"/tmp/graft_cacheonce/${name}_${System.nanoTime()}"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(dir)
    dir
  }

  /** `get` whose build counts its evaluations in `n`. */
  private def counted(key: String, deps: Any*)(n: Array[Int])(df: => DataFrame): DataFrame =
    CacheOnce.get(key, deps: _*) { n(0) += 1; df }

  private def values(df: DataFrame): Seq[Long] = df.as[Long].collect().sorted.toSeq

  test("a hit returns the stored DataFrame and does not evaluate build") {
    val dir = fixture("reuse")
    val n = Array(0)
    val a = counted("spec_cacheonce_reuse", spark, dir)(n)(spark.read.parquet(dir).select(col("v")))
    val b = counted("spec_cacheonce_reuse", spark, dir)(n)(spark.read.parquet(dir).select(col("v")))
    assert(a eq b, "a hit did not return the stored DataFrame")
    assert(n(0) === 1, "a hit evaluated build")
    assert(values(b) === Seq(1L, 2L, 3L))
  }

  test("changed deps rebuild the key and unpersist the old entry") {
    val dir = fixture("deps")
    val n = Array(0)
    def scaled(k: Long) = counted("spec_cacheonce_deps", spark, dir, k)(n)(
      spark.read.parquet(dir).select((col("v") * k).as("v")))
    val first = scaled(1L)
    assert(values(first) === Seq(1L, 2L, 3L))
    assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)
    val second = scaled(10L)
    assert(n(0) === 2, "changed deps did not evaluate build")
    assert(!(second eq first))
    assert(values(second) === Seq(10L, 20L, 30L))
    assert(first.storageLevel === StorageLevel.NONE, "the replaced entry is still persisted")
  }

  test("a rebuilt upstream key rebuilds the keys built over it") {
    val dir = fixture("upstream")
    val n = Array(0)
    def up(k: Long) = CacheOnce.get("spec_cacheonce_up", spark, dir, k)(
      spark.read.parquet(dir).select((col("v") * k).as("v")))
    def down(u: DataFrame) = counted("spec_cacheonce_down", spark, dir, u)(n)(
      u.select((col("v") + 1).as("v")))
    val d1 = down(up(1L))
    assert(down(up(1L)) eq d1, "an unchanged upstream rebuilt the key over it")
    val d2 = down(up(10L))
    assert(n(0) === 2, "a rebuilt upstream did not rebuild the key over it")
    assert(values(d2) === Seq(11L, 21L, 31L))
  }

  test("a build that throws leaves no entry behind") {
    val dir = fixture("throw")
    val n = Array(0)
    counted("spec_cacheonce_throw", spark, dir, 1)(n)(spark.read.parquet(dir))
    intercept[IllegalStateException] {
      CacheOnce.get("spec_cacheonce_throw", spark, dir, 2)(throw new IllegalStateException("build"))
    }
    assert(!CacheOnce.storageSnapshot().contains("spec_cacheonce_throw"))
    val again = counted("spec_cacheonce_throw", spark, dir, 1)(n)(spark.read.parquet(dir))
    assert(n(0) === 2, "a lookup after a failed build was served without a build")
    assert(values(again) === Seq(1L, 2L, 3L))
  }

  test("in-place fixture regeneration recomputes instead of serving stale cache") {
    val dir = s"/tmp/graft_cacheonce/regen_${System.nanoTime()}"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(dir)
    val first = CacheOnce.get("spec_cacheonce_regen", spark, dir)(
      spark.read.parquet(dir).select(col("v")))
    assert(first.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // regenerate at the SAME path: the deps are equal, so only the
    // filesystem fingerprint distinguishes the corpora
    Seq(10L, 20L).toDF("v").write.mode("overwrite").parquet(dir)
    val second = CacheOnce.get("spec_cacheonce_regen", spark, dir)(
      spark.read.parquet(dir).select(col("v")))
    assert(second.as[Long].collect().sorted.toSeq == Seq(10L, 20L),
      "regenerated fixture was served from the stale cache")
  }

  test("regeneration nested inside a partition subdirectory is detected") {
    val dir = s"/tmp/graft_cacheonce/nested_${System.nanoTime()}"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("v", "part")
      .write.partitionBy("part").parquet(dir)
    val first = CacheOnce.get("spec_cacheonce_nested", spark, dir)(
      spark.read.parquet(dir).select(col("v")))
    assert(first.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // dynamic overwrite of ONE partition: the root dir's direct children
    // (partition dirs) keep their names; only files nested inside
    // part=a change — the hazard that motivated walking below the root
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Seq((10L, "a")).toDF("v", "part")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val second = CacheOnce.get("spec_cacheonce_nested", spark, dir)(
      spark.read.parquet(dir).select(col("v")))
    assert(second.as[Long].collect().sorted.toSeq == Seq(3L, 10L),
      "nested partition regeneration was served from the stale cache")
  }

  test("every literal CacheOnce key in src/main has one call site") {
    // a hit does not compare plans, so two builders under one key would
    // silently share one index
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val sources = scala(new java.io.File("src/main"))
    assert(sources.exists(_.getName == "CacheOnce.scala"),
      "src/main not found from the test's working directory")
    val call = """CacheOnce\.get\(\s*"([^"]+)"""".r
    val sites = sources.flatMap { f =>
      call.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => m.group(1) -> f.getName).toSeq
    }
    assert(sites.map(_._1).distinct.size >= 15, s"scan found too few keys: $sites")
    val shared = sites.groupBy(_._1).filter(_._2.size > 1)
    assert(shared.isEmpty, s"keys with more than one call site: $shared")
  }
}
