package graft

/** Driver-contract invariants for SparkEntry: the registry the
  * correctness gate and bench iterate must stay internally consistent. */
class ContractSpec extends SparkSpec {

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are unique across modules (no silent map overwrite)") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(names.toSet == SparkEntry.queries.keySet)
  }

  test("only the golden-twin queries lack a DuckDB oracle") {
    // These three are checked by golden specs instead (TextSpec,
    // DedupSpec, PcaSpec); any other query without an oracle lost it.
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.toSet == Set("q_compress", "q_dedup_simhash",
      "q_ml_pca"))
  }

  test("entry (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registry query is run-to-run deterministic") {
    // Two executions must agree as multisets — catches partition-order
    // dependence, RNG leakage, and nondeterministic cuts anywhere in
    // the registry (the property every oracle comparison relies on).
    val flaky = RegistrySweep.completed.filterNot(_.deterministic)
      .map(_.name)
    assert(flaky.isEmpty, s"nondeterministic queries: $flaky")
  }

  test("oracle SQL never references Spark-only functions") {
    // guard against xxhash64/spark-isms leaking into DuckDB SQL
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("xxhash64") || sql.contains("monotonically_increasing")
    }
    assert(bad.isEmpty, s"non-portable oracle SQL in: ${bad.keys}")
  }

  test("only Frames stages or reads persistent RDDs in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("graft/operators/Frames.scala")))
    val offenders = files
      .filterNot(_.endsWith("graft/operators/Frames.scala"))
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        src.contains("localCheckpoint") || src.contains("getPersistentRDDs")
      }
    assert(offenders.isEmpty, s"stage through Frames instead: ${offenders.mkString(", ")}")
  }
}
