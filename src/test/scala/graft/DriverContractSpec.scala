package graft

/** Guards the driver contract itself: entry() smoke, oracle keys ⊆ query
  * keys, every query runs at the smallest SF with well-formed output
  * columns (the driver sorts columns by name before hashing — duplicate or
  * empty names would silently corrupt the compare).
  */
class DriverContractSpec extends SparkSpec {

  test("entry() returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; rows-only queries are the known set") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert((q -- o).isEmpty, s"rows-only drift: ${q -- o}")
  }

  test("every declared query runs at sf0.001 with sane output columns") {
    // each query must leave the cache as it found it: empty
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try SparkEntry.run(spark, name, sfDir) { df =>
        val cols = df.columns
        val bad =
          (if (cols.distinct.length != cols.length) Seq(s"duplicate columns: ${cols.mkString(",")}") else Nil) ++
            (if (cols.exists(_.trim.isEmpty)) Seq("empty column name") else Nil) ++
            (if (cols.exists(_.startsWith("__"))) Seq(s"internal column leaked: ${cols.filter(_.startsWith("__")).mkString(",")}") else Nil)
        df.count() // must execute
        bad.map(b => s"$name: $b")
      } ++ (if (cache.isEmpty) Nil else {
        spark.catalog.clearCache(); Seq(s"$name: left cache entries")
      })
      catch {
        case e: Throwable => Seq(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("queries that materialize reuse frames release them once run") {
    // w12's chunked series and c2's re-lined corpus are persisted for
    // several plan consumers; SparkEntry.run owns their release
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    for (name <- Seq("w12_chunked_finite", "c2_line_dedup")) {
      val rows = SparkEntry.run(spark, name, sfDir)(_.count())
      assert(rows > 0, name)
      assert(cache.isEmpty, s"$name left cache entries")
    }
  }
}
