package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Temporal

/** SQL registration surface + as-of miss-path coverage. */
class GraftSqlSpec extends AnyFunSuite {
  private lazy val spark = { Graft.install(SparkTestSession.spark) }

  test("custom functions are callable from SQL after Graft.install") {
    val r = spark.sql(
      "SELECT normalize_word('Hello,') AS w, simhash64(array('a','b')) AS h").collect()(0)
    assert(r.getString(0) === "hello")
    assert(r.getLong(1) !== 0L)
    val toks = spark.sql(
      "SELECT tokenize_normalize('Foo,  BAR!! ...') AS word").collect()
    assert(toks.map(_.getString(0)).toSeq === Seq("foo", "bar"))
    val r12 = spark.sql(
      "SELECT bpe_token_count('the theory') AS n, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()(0)
    assert(r12.getLong(0) === 4L) // the | the,or,y
    assert(r12.getDouble(1) === 11.0)
  }

  test("GraftExtensions wires the same functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    // a sibling session on the same context picks up the extensions class
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions: the conf-string path (spark.sql.extensions) only
    // applies when the SparkContext itself is created, which the shared
    // test context precludes — the class is the same either way
    val s2 = SessionTuning.builder("graft-test-ext", "local[2]", 2)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql("SELECT normalize_word('--DASH--') AS w").collect()(0)
      assert(r.getString(0) === "dash")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(SparkTestSession.spark)
      SparkSession.setActiveSession(SparkTestSession.spark)
    }
  }

  test("as-of join emits nulls for left rows with no prior right row") {
    import spark.implicits._
    val left = Seq((1L, 100L, "e1"), (1L, 5L, "e0"), (2L, 50L, "e2"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 10L, 7.0), (1L, 90L, 9.0), (3L, 1L, 1.0))
      .toDF("k", "t", "price")
    val got = Temporal.asofJoin(left, right, "k", "t", Seq("price"), tieBreak = "price")
      .select($"name", $"asof_price").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("e1") === Some(9.0)) // latest right at t<=100
    assert(got("e0") === None)      // t=5 precedes all right rows -> miss
    assert(got("e2") === None)      // key 2 has no right rows at all
  }

  test("as-of tie at equal time resolves to the greatest tiebreak value") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e")).toDF("k", "t", "name")
    val right = Seq((1L, 10L, 3.0), (1L, 10L, 8.0)).toDF("k", "t", "price")
    val got = Temporal.asofJoin(left, right, "k", "t", Seq("price"), tieBreak = "price")
      .select($"asof_price").collect()(0).getDouble(0)
    assert(got === 8.0)
  }
}
