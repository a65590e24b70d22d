package graft

/** Executes EVERY SparkEntry query with codegen fallback disabled
  * ([[SurfaceSweep]]): any expression whose generated code fails to
  * compile (the silent interpreted-fallback failure mode the round-2
  * verdict caught on Md5Long60) becomes a hard test failure instead of
  * a 2–5× runtime tax nobody notices.
  */
class CodegenGuardSpec extends SparkSpec {

  test("no query falls back to interpreted execution") {
    val failures = SurfaceSweep.outcomes.collect {
      case (name, o) if o.error.isDefined => s"$name: ${o.error.get}"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
