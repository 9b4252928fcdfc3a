package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog API surface (the reference's SQLContext Catalog +
  * registerTempTable/cacheTable lifecycle, sql/core/.../SQLContext.scala
  * and catalyst/analysis/Catalog.scala): temp-view registration and
  * lookup, cache/uncache state transitions, function registry listing,
  * and column metadata — the session-catalog operations a reference user
  * drives daily.  */
class CatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("temp view registration appears in listTables and resolves") {
    val df = Engine.table(spark, TestSpark.Sf, "nation")
    df.createOrReplaceTempView("graft_cat_nation")
    val names = spark.catalog.listTables().collect().map(_.name)
    assert(names.contains("graft_cat_nation"))
    assert(spark.table("graft_cat_nation").count() === df.count())
  }

  test("cacheTable / isCached / uncacheTable lifecycle") {
    Engine.table(spark, TestSpark.Sf, "region").createOrReplaceTempView("graft_cat_region")
    spark.catalog.cacheTable("graft_cat_region")
    assert(spark.catalog.isCached("graft_cat_region"))
    assert(spark.table("graft_cat_region").count() === 5)
    spark.catalog.uncacheTable("graft_cat_region")
    assert(!spark.catalog.isCached("graft_cat_region"))
  }

  test("native graft functions are listed in the function registry") {
    val fns = spark.catalog.listFunctions().collect().map(_.name.toLowerCase).toSet
    for (f <- Seq("graft_hamming64", "graft_cosine", "graft_topk", "graft_minhash16"))
      assert(fns.contains(f), s"$f missing from catalog function listing")
  }

  test("listColumns exposes the schema of a registered view") {
    Engine.table(spark, TestSpark.Sf, "supplier").createOrReplaceTempView("graft_cat_supp")
    val cols = spark.catalog.listColumns("graft_cat_supp").collect().map(_.name)
    assert(cols.contains("s_suppkey") && cols.contains("s_nationkey"))
  }

  test("df.observe surfaces accumulated metrics through Observation") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation()
    Engine.table(spark, TestSpark.Sf, "orders")
      .observe(obs, count(lit(1)).as("n"), max(col("o_totalprice")).as("maxp"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n").asInstanceOf[Long] > 0)
    assert(m("maxp").asInstanceOf[Double] > 0.0)
  }

  test("dropTempView removes resolution") {
    Engine.table(spark, TestSpark.Sf, "part").createOrReplaceTempView("graft_cat_part")
    assert(spark.catalog.tableExists("graft_cat_part"))
    spark.catalog.dropTempView("graft_cat_part")
    assert(!spark.catalog.tableExists("graft_cat_part"))
  }
}
