package graft

/** Driver-contract smoke: every SparkEntry query runs at sf0.001 and
  * produces a sane (non-erroring) result; entry returns rows.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("Verify.dump lists a throwing query in failures.json and still " +
      "dumps the rest") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify")
      .toString
    val failures = Verify.dump(spark, sfDir, out, Seq(
      ("q_throws", (_, _) => throw new IllegalStateException("boom \"x\"")),
      ("q_fine", (s, _) => s.range(3).toDF("id"))))
    assert(failures == Seq("q_throws" -> "boom \"x\""))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/failures.json")), "UTF-8")
    assert(manifest.contains("\"query\": \"q_throws\""), manifest)
    assert(manifest.contains("boom \\\"x\\\""), manifest)
    assert(spark.read.parquet(s"$out/q_fine").count() == 3L)
    // nothing failed: the manifest is an empty list
    Verify.dump(spark, sfDir, out, Seq(("q_fine", (s, _) => s.range(1).toDF("id"))))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/failures.json")), "UTF-8") == "[]")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
    }
  }
}
