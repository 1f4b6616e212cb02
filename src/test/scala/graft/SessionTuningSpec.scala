package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared session constructor's configuration and the
  * `SPARK_GRAFT_CONF_EXTRA` parse, separately from the environment the
  * suite happens to run under. */
class SessionTuningSpec extends AnyFunSuite {
  private val Extra = "SPARK_GRAFT_CONF_EXTRA"

  test("conf passthrough parses k=v;k=v, skips empty entries, keeps '=' in values") {
    assert(SessionTuning.parseConfs(Extra, "a.b=1;;c=x=y;") ===
      Seq("a.b" -> "1", "c" -> "x=y"))
  }

  test("a malformed conf passthrough entry fails naming the variable and the entry") {
    for (bad <- Seq("spark.x=1;oops", "=novalue")) {
      val e = intercept[IllegalArgumentException](
        SessionTuning.tunedConfs(Map(Extra -> bad)))
      assert(e.getMessage.contains(Extra), e.getMessage)
      assert(e.getMessage.contains(bad.split(";").last), e.getMessage)
    }
  }

  test("tuned defaults: streamed shuffle copy, no local shuffle reader, 16k floor; passthrough last") {
    val confs = SessionTuning.tunedConfs(Map(Extra -> "spark.file.transferTo=true"))
    val defaults = SessionTuning.tunedConfs(Map("SPARK_GRAFT_LOCAL_DIR" -> "default")).toMap
    assert(defaults === Map(
      "spark.file.transferTo" -> "false",
      "spark.sql.adaptive.localShuffleReader.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
      "spark.sql.codegen.cache.maxEntries" -> "2000"))
    assert(confs.last === ("spark.file.transferTo" -> "true"))
  }

  test("the shared constructor yields the tuned confs, UTC, UI off and its shuffle width") {
    val conf = SparkTestSession.spark.conf
    // spark.local.dir left out: its default follows /dev/shm free space,
    // which may have moved since the session was built
    for ((k, v) <- SessionTuning.tunedConfs(sys.env) if k != "spark.local.dir")
      assert(conf.get(k) === v, k)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.shuffle.partitions") === "8")
  }
}
