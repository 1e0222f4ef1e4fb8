package graft

import org.scalatest.funsuite.AnyFunSuite

/** bench_local.json names why a query failed: the last failed sweep's
  * exception class and message, per failed or flaky query. */
class BenchSpec extends AnyFunSuite {

  test("failure record: class and message of the last failed sweep for " +
      "failed and flaky queries, none for clean ones, JSON-escaped") {
    val boom = new IllegalStateException("bad \"quote\"\nline")
    val oom = new OutOfMemoryError("heap")
    val sweeps = Seq(
      Map("ok" -> (1.0, None), "flaky" -> (1.0, Some(boom)),
        "dead" -> (1.0, Some(boom))),
      Map("ok" -> (1.0, None), "flaky" -> (1.0, None),
        "dead" -> (1.0, Some(oom))))
    assert(Bench.failuresJson(Seq("dead", "flaky", "ok"), sweeps) ===
      """{"dead":"java.lang.OutOfMemoryError: heap",""" +
      """"flaky":"java.lang.IllegalStateException: bad \"quote\"\nline"}""")
    assert(Bench.failuresJson(Seq("ok"), sweeps) === "{}")
  }
}
