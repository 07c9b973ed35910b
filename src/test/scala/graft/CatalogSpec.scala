package graft

/** Mechanical catalog-freeze pin (r17, the round's prose→mechanism
  * theme applied to the freeze order itself): the catalog has been
  * frozen at 215 keys since r15, additions by judge authorization
  * only — previously enforced by discipline alone. This spec asserts
  * the LIVE key set equals the checked-in `CATALOG.txt` manifest and
  * names exactly what drifted, so an accidental add/drop/rename fails
  * the suite with an attributed message instead of surfacing as a
  * human noticing a count change in the driver artifact. Deliberate
  * (authorized) changes regenerate the manifest via
  * `runMain graft.tools.CatalogManifest` and commit the diff.
  *
  * Extends SparkSpec: `Catalog.oracleSql` is a cached lazy val whose
  * IMDb/ML entries GENERATE their SQL and need an active SparkSession
  * — forcing it session-less would cache a degraded map for the whole
  * test JVM (and misreport those keys as no-oracle here).
  */
class CatalogSpec extends SparkSpec {

  test("catalog key set is frozen: live keys equal the CATALOG.txt manifest") {
    val src = scala.io.Source.fromFile(graft.tools.CatalogManifest.ManifestPath, "UTF-8")
    val manifest = try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    val live = graft.queries.Catalog.queries.keySet
    val added = (live -- manifest).toSeq.sorted
    val removed = (manifest -- live).toSeq.sorted
    assert(added.isEmpty && removed.isEmpty,
      s"catalog drift vs frozen manifest (judge-authorized changes must " +
      s"regenerate CATALOG.txt via graft.tools.CatalogManifest): " +
      s"added=${added.mkString("[", ", ", "]")} removed=${removed.mkString("[", ", ", "]")}")
    assert(manifest.size == 215, s"frozen catalog is 215 keys, manifest has ${manifest.size}")
  }

  test("the family modules list each query once: 215 entries, 215 distinct names") {
    // `queries` is `all.toMap`, so a query listed twice would silently
    // collapse there and pass the key-set check above
    val names = graft.queries.Catalog.all.map(_.name)
    assert(names.size == 215 && names.distinct.size == 215,
      s"${names.size} entries, ${names.distinct.size} distinct names")
  }

  test("every oracle key exists in the catalog, and the no-oracle set is exactly the contractual five") {
    assert(spark.sparkContext.isLocal) // force the session BEFORE oracleSql
    val live = graft.queries.Catalog.queries.keySet
    val oracle = graft.queries.Catalog.oracleSql.keySet
    val dangling = (oracle -- live).toSeq.sorted
    assert(dangling.isEmpty, s"oracleSql keys with no query: $dangling")
    // the 5 contractual no-oracle keys (driver records rows-only
    // checks for them; each has hash-green same-family twins)
    val noOracle = (live -- oracle).toSeq.sorted
    assert(noOracle === Seq("ml03_gbt_eval", "ml04_importances", "ml05_pca",
      "q38_sketches", "q61_hll_sketch"),
      s"the no-oracle set is contractual — it changed to: $noOracle")
  }

  test("specs are filed by family: no new round-numbered spec, and every catalog family has its own") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/test/scala"))
    val specs = try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith("Spec.scala")).toSet finally walk.close()
    val numbered = specs.filter(n => n.matches("""\w+\d+Spec\.scala""") ||
      n == "PropertySpec.scala" || n == "PlanSpec.scala")
    // round-numbered specs whose tests have not moved to a family spec
    // yet (a move renames the suite id, so they move a few at a time);
    // this list may only shrink
    val unmoved = ((4 to 23).map(i => s"Extended${i}Spec.scala") ++
      Seq("PropertySpec.scala", "Property2Spec.scala", "Property3Spec.scala",
        "Property6Spec.scala")).toSet
    val extra = numbered -- unmoved
    assert(extra.isEmpty, s"specs named after a round, not a family: ${extra.toSeq.sorted}")
    // the family modules Catalog.all concatenates, read from its source
    val catalogSrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/queries/Catalog.scala")), "UTF-8")
    val allExpr = catalogSrc.substring(catalogSrc.indexOf("lazy val all"),
      catalogSrc.indexOf("lazy val queries"))
    val families = """(\w+)Queries\.all""".r.findAllMatchIn(allExpr).map(_.group(1)).toSeq
    assert(families.size == 11, s"expected the 11 family modules, read $families")
    // the similarity family's spec is named after its module, Ann
    val specOf = Map("Similarity" -> "AnnSpec.scala").withDefault(f => s"${f}Spec.scala")
    val missing = families.filterNot(f => specs(specOf(f)))
    assert(missing.isEmpty, s"catalog families with no spec of their own: $missing")
  }

  test("the flagship entry and Bench headline names are catalog members") {
    val live = graft.queries.Catalog.queries.keySet
    val missing = Bench.headline.filterNot(live)
    assert(missing.isEmpty, s"headline names not in catalog: $missing")
  }
}
