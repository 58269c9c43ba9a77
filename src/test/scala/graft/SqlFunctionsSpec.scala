package graft

import org.apache.spark.sql.functions._

/** The registered SQL functions work from spark.sql — the surface a
  * SQL-API user of the library sees.
  */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("custom functions usable from SQL after registration") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("sql_docs")
    val row = spark.sql(
      """SELECT graft_phash(text) AS h,
        |       cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs
        |FROM sql_docs LIMIT 1""".stripMargin).first()
    assert(row.getLong(0) >= 0)
    assert(row.getDouble(1) === 1.0)
    val sk = spark.sql(
      "SELECT bottom_k(graft_phash(text), 4) AS sk FROM sql_docs")
      .first().getSeq[Long](0)
    assert(sk.size === 4 && sk == sk.sorted)
    // registration is idempotent: a second call replaces no builder
    import org.apache.spark.sql.graft.RegistryProbe
    val names = GraftExtensions.builders.map(_._1)
    val first = names.map(RegistryProbe.builder(spark, _))
    assert(first.forall(_.isDefined))
    GraftExtensions.register(spark)
    names.zip(first).foreach { case (n, b) =>
      assert(RegistryProbe.builder(spark, n).get eq b.get,
        s"a second register replaced $n")
    }
  }

  test("graft_phash equals the hex-conv formulation it replaces") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("sql_docs2")
    val diff = spark.sql(
      """SELECT count(*) AS n FROM sql_docs2
        |WHERE graft_phash(text)
        |   <> CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"""
        .stripMargin).first().getLong(0)
    assert(diff === 0)
  }
}
