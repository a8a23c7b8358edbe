package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import graft.operators.ArtifactManifest
import graft.sources.Crm

/** The program's results do not depend on the caller's session: the same
  * build and the same entries on a session with ANSI on and a non-UTC
  * zone (America/Sao_Paulo, three hours west of UTC) give the rows the
  * harness session (Spark's defaults, in the JVM's zone) gives. Each plan carries its own date,
  * overflow and time-zone semantics, so no entry sets a session conf.
  */
class SessionIndependenceSpec extends SparkSpec {

  private val sf0001 = "/root/testdata/sf0.001"

  /** A session of its own (its own build memos) with ANSI on and the
    * Sao Paulo zone. */
  private def foreignSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    s
  }

  /** Rows as an order-free multiset, without the current-date stamps. */
  private def rows(df: DataFrame): Seq[String] =
    df.drop("data_carga", "data_cadastro").collect().map(_.toString).toSeq.sorted

  test("Warehouse.build gives the same dims and fact on an ANSI-on, Sao Paulo session") {
    val ours = Warehouse.build(spark, sf0001).tables
    val theirs = Warehouse.build(foreignSession(), sf0001).tables
    assert(theirs.map(_._1) === ours.map(_._1))
    assert(ours.size === 11)
    ours.zip(theirs).foreach { case ((name, a), (_, b)) =>
      assert(b.schema === a.schema, name)
      val (ra, rb) = (rows(a), rows(b))
      assert(ra.nonEmpty, name)
      assert(rb === ra, name)
    }
  }

  test("every entry that reads events returns the same rows on an ANSI-on, Sao Paulo session") {
    // an entry reads events exactly when its DuckDB mirror does
    val readsEvents = "\\bevents\\b".r
    val names = SparkEntry.oracleSql.collect {
      case (name, sql) if readsEvents.findFirstIn(sql).isDefined => name
    }.toSeq.sorted
    assert(names.size >= 14, names)
    val foreign = foreignSession()
    names.foreach { name =>
      val entry = SparkEntry.queries(name)
      val a = entry(spark, sf0001)
      val b = entry(foreign, sf0001)
      assert(b.schema === a.schema, name)
      assert(rows(b) === rows(a), name)
    }
  }

  test("fingerprintOf under ANSI equals the wrapped sum of the row hashes") {
    val s = foreignSession()
    val df = s.range(0, 200000).toDF("id")
    val wrapped = df.select(xxhash64(col("id"))).collect().map(_.getLong(0)).sum
    assert(ArtifactManifest.fingerprintOf(df, Seq(col("id"))) === ((200000L, wrapped)))
    // an empty input fingerprints as (0, 0)
    assert(ArtifactManifest.fingerprintOf(df.limit(0), Seq(col("id"))) === ((0L, 0L)))
  }

  test("a TIMESTAMP(NANOS) events.ts fails naming the table and the column") {
    val dir = Files.createTempDirectory("events_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000000L).append("user_id", 7L)
      .append("event_type", "view").append("value", 1.5).append("props", "{}"))
    finally writer.close()
    val e = intercept[IllegalArgumentException](Crm.table(spark, dir, "events"))
    assert(e.getMessage.contains("'events'") && e.getMessage.contains("'ts'"), e.getMessage)
    assert(e.getMessage.contains("NANOS"), e.getMessage)
  }
}
