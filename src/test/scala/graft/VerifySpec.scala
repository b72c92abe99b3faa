package graft

/** Pins the gate-handshake tripwire: a verify run that dumps ZERO query
  * directories must fail loudly — an empty gate artifact reads like a green
  * engine and must never be producible silently. */
class VerifySpec extends SparkSpec {

  test("runAll with a filter matching nothing dumps zero queries") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-spec").toString
    val (ok, failed) =
      Verify.runAll(spark, "/nonexistent-sf-dir", out, Some(Set("__no_such_query__")), 1, 600)
    assert(ok == 0 && failed == 0)
  }

  test("requireNonEmpty trips on zero outputs and passes on any") {
    val e = intercept[IllegalArgumentException](Verify.requireNonEmpty(0))
    assert(e.getMessage.contains("ZERO query outputs"))
    Verify.requireNonEmpty(1)
    Verify.requireNonEmpty(187)
  }

  test("local_verify.py refuses an empty output directory (exit 3)") {
    val sf = java.nio.file.Files.createTempDirectory("graft-sf-empty").toString
    val out = java.nio.file.Files.createTempDirectory("graft-out-empty").toString
    // oracle_sql.json exists (Verify always writes it) but no query dirs —
    // the exact shape a killed-before-first-dump round leaves behind.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), "{}")
    val pb = new ProcessBuilder("python3", "scripts/local_verify.py", sf, out)
    pb.directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val outText = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    assert(rc == 3, s"expected exit 3, got $rc; output:\n$outText")
    assert(outText.contains("empty gate artifact refused"), outText)
  }
}
