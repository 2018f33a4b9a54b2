package graft

import org.apache.spark.sql.SparkSession

/** The SQL surface: registered native functions are callable from
  * `spark.sql`, and the extensions entry point wires up cleanly. */
class SqlSurfaceSpec extends SparkSpec {

  test("native expressions callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT simhash60(array(1L, 1L, 2L)) AS sig,
        |       sorted_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n
        |""".stripMargin).collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getInt(1) == 2)
  }

  test("queries run against temp views through plain spark.sql") {
    graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .createOrReplaceTempView("li")
    val out = spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM li GROUP BY 1 ORDER BY 1")
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "N", "R"))
  }

  /** Calls each of the five native SQL functions in `s`. */
  private def callAll(s: SparkSession): Unit = {
    val r = s.sql(
      """SELECT simhash60(array(1L, 1L, 2L)),
        |       sorted_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L)),
        |       hilbert32(0L, 0L),
        |       pmd5_60(''),
        |       common_prefix_len('abc', 'abd')
        |""".stripMargin).collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getInt(1) == 2)
    assert(r.getLong(2) == 0L)
    // the first 15 hex digits of md5('') = d41d8cd98f00b204...
    assert(r.getLong(3) == java.lang.Long.parseLong("d41d8cd98f00b20", 16))
    assert(r.getInt(4) == 2)
  }

  private val names =
    Seq("simhash60", "sorted_intersect_size", "hilbert32", "pmd5_60", "common_prefix_len")

  test("GraftExtensions and Engine.attach install all five native functions") {
    // a new session gets a fresh function registry from the session's
    // extensions (the test session is built with graft.GraftExtensions),
    // so nothing registered on the shared session leaks in
    callAll(spark.newSession())
    // the other route: a session built without them gets them from attach
    val bare = bareSession()
    assert(names.forall(n => !bare.catalog.functionExists(n)))
    Engine.attach(bare, "/root/testdata/sf0.001")
    callAll(bare)
  }
}
