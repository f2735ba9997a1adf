package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * The dev mains' shared core: `SPARK_GRAFT_*` parsing from a plain map
 * (no process env), the loud rejection of an unknown `SPARK_GRAFT_ONLY`
 * name, and the verdict tracker's exit code.
 */
class DevHarnessSpec extends AnyFunSuite {

  test("unset variables take the defaults and select every query") {
    val env = DevHarness.env(Map.empty)
    assert(env === DevHarness.Env("/root/testdata/sf0.1", 32, None))
    assert(env.queries.map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("SPARK_GRAFT_ONLY is a comma list whose names may carry spaces") {
    val env = DevHarness.env(Map(
      "SPARK_GRAFT_SF_DIR" -> "/data/sf1",
      "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_ONLY" -> " st_window , s1_csv_roundtrip"))
    assert(env.sfDir === "/data/sf1")
    assert(env.cpus === 8)
    assert(env.only === Some(Set("st_window", "s1_csv_roundtrip")))
    assert(env.queries.map(_._1) === Seq("s1_csv_roundtrip", "st_window"))
  }

  test("an unknown SPARK_GRAFT_ONLY name is rejected by name") {
    val e = intercept[IllegalArgumentException](DevHarness.env(Map(
      "SPARK_GRAFT_ONLY" -> "st_window,st_windw,s1_csv_roundtrip")))
    assert(e.getMessage.contains("st_windw"), e.getMessage)
    assert(!e.getMessage.contains("s1_csv_roundtrip"), e.getMessage)
  }

  test("the verdict tracker exits 0 when every check passes, 1 after any " +
      "FAIL") {
    val v = new DevHarness.Verdicts
    assert(v.exitCode === 0)
    assert(v(ok = true) === "PASS")
    assert(v(ok = true) === "PASS")
    assert(v.exitCode === 0)
    assert(v(ok = false) === "FAIL")
    assert(v(ok = true) === "PASS")
    assert(v.exitCode === 1)
  }
}
