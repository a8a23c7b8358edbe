package graft

/** The registry contract of [[SparkEntry]]: the per-family maps merge
  * without losing a name, every entry has a DuckDB mirror, and no entry
  * rewrites the caller's session.
  */
class RegistrySpec extends SparkSpec {

  test("no query name is defined by two families") {
    val fams = SparkEntry.families
    assert(fams.map(_.queries.size).sum == SparkEntry.queries.size,
      "a name defined by two families' queries is silently dropped by the merge")
    assert(fams.map(_.oracleSql.size).sum == SparkEntry.oracleSql.size,
      "a name defined by two families' oracleSql is silently dropped by the merge")
  }

  test("every query has a DuckDB mirror and every mirror a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty[String], "queries without an oracle mirror")
    assert(o -- q == Set.empty[String], "oracle mirrors without a query")
    assert(q.size == 226)
  }

  test("an entry leaves the session's confs as it found it") {
    val s = spark.newSession()
    val ansi = "spark.sql.ansi.enabled"
    val tz = "spark.sql.session.timeZone"
    s.conf.set(ansi, "true")
    s.conf.set(tz, "America/Sao_Paulo")
    // q_dim_tempo generates its dates and reads no table, so no data
    // directory is needed
    SparkEntry.queries("q_dim_tempo")(s, "").collect()
    assert(s.conf.get(ansi) == "true")
    assert(s.conf.get(tz) == "America/Sao_Paulo")
  }
}
