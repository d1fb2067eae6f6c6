package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.types._

/** Driver-testdata schema TRIPWIRE. The generator behind
  * `/root/testdata` has drifted before (round 8 silently re-encoded
  * `events.ts` from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and
  * took 30 queries down at driver time); this spec turns the next
  * drift into ONE failing assertion that names the table, the column,
  * and both types, instead of a pile of downstream analysis errors.
  *
  * Two layers:
  *  - the RAW expectation per table — what we believe the driver
  *    currently writes (events.ts may be any encoding
  *    Tables.normalizeEventTime absorbs, so it is asserted against
  *    the ABSORBABLE set, not one type);
  *  - the CANONICAL post-normalization contract for `events` — what
  *    every engine query consumes. If raw drifts but this still
  *    holds, the engine absorbed the drift and queries are safe.
  */
class SchemaContractSpec extends SparkTestBase {

  private def fields(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  private def assertCols(table: String, got: Map[String, DataType],
      want: (String, DataType)*): Unit =
    want.foreach { case (name, dt) =>
      val actual = got.get(name)
      assert(actual.contains(dt),
        s"TESTDATA DRIFT: $table.$name is ${actual.getOrElse("MISSING")}, " +
          s"engine expects $dt — if the driver regenerated " +
          "/root/testdata with a new encoding, absorb it at the scan " +
          "(graft.util.Tables), not at the query sites")
    }

  test("dimension/fact tables carry the engine-expected column types") {
    // the expectations live in graft.util.SchemaContract — ONE source
    // of truth shared with the tools/DriftCheck command, so the spec
    // and the one-command regen diagnosis can never disagree
    val findings = graft.util.SchemaContract.checkRaw(spark, sf)
    assert(findings.isEmpty,
      "TESTDATA DRIFT (absorb at graft.util.Tables, not query sites):\n  "
        + findings.mkString("\n  "))
    // columns the contract map doesn't pin but specs rely on
    val emb = fields(graft.util.Tables.embeddings(spark, sf))
    assertCols("embeddings", emb, "vec_id" -> LongType,
      "label" -> IntegerType)
  }

  test("DriftCheck verdict: ABSORB on real testdata, REJECT on a drift") {
    val (fReal, okReal) = graft.util.SchemaContract.check(spark, sf)
    assert(okReal && fReal.isEmpty,
      s"DriftCheck should ABSORB the current testdata: $fReal")
    // a deliberately-drifted dir (events.ts as string) must REJECT
    // with findings naming events.ts on both layers
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("djudge").toString
    for (t <- graft.util.SchemaContract.rawExpectations.keys if t != "events")
      graft.util.Tables.t(spark, sf, t).limit(5)
        .write.parquet(s"$dir/$t.parquet")
    graft.util.Tables.embeddings(spark, sf).limit(5)
      .write.parquet(s"$dir/embeddings.parquet")
    Seq((1L, 2L, "view", 1.0, "{}", "2024-01-01"))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
      .write.parquet(s"$dir/events.parquet")
    val (fBad, okBad) = graft.util.SchemaContract.check(spark, dir)
    assert(!okBad, "a string ts must be rejected")
    assert(fBad.exists(f => f.table == "events" && f.column == "ts"),
      s"findings should name events.ts: $fBad")
  }

  test("events.ts is an encoding the scan normalization absorbs") {
    val raw = fields(graft.util.Tables.eventsRaw(spark, sf))
    val ts = raw.get("ts")
    val absorbable: Set[DataType] =
      Set(LongType, TimestampType, TimestampNTZType)
    assert(ts.exists(absorbable.contains),
      s"TESTDATA DRIFT: events.ts is ${ts.getOrElse("MISSING")}; " +
        s"Tables.normalizeEventTime only absorbs $absorbable — teach it " +
        "the new encoding (single fix point) before touching any query")
    assertCols("events(raw)", raw,
      "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType)
  }

  test("legacy nanos and current micros encodings normalize identically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the same instants written both ways the generator has shipped
    // them: INT64 epoch-nanos (rounds ≤7) and TIMESTAMP_NTZ µs
    // (round 8+) — the canonical ts_us/event_time must be identical,
    // or a regen flips query results instead of just encodings
    val us = Seq(1704067200000000L, 1704067200000001L, 1704153599999999L)
    val base = java.nio.file.Files.createTempDirectory("enc").toString
    us.map(u => (u % 100, u * 1000)).toDF("event_id", "ts")
      .write.parquet(s"$base/nanos/events.parquet")
    us.map(u => Tuple2(u % 100, u)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$base/micros/events.parquet")
    val fromNanos = graft.util.Tables.events(spark, s"$base/nanos")
      .select("event_id", "ts_us", "event_time").collect().toSet
    val fromMicros = graft.util.Tables.events(spark, s"$base/micros")
      .select("event_id", "ts_us", "event_time").collect().toSet
    assert(fromNanos === fromMicros)
    assert(fromNanos.map(_.getLong(1)) === us.toSet)
  }

  test("a drifted ts encoding trips normalization with one clear diagnostic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    Seq((1L, "2024-01-01T00:00:00")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      graft.util.Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("drifted") &&
      e.getMessage.contains("normalizeEventTime"),
      s"diagnostic should name the drift and the fix point: ${e.getMessage}")
  }

  test("normalized events exposes the canonical event-time contract") {
    val ev = graft.util.Tables.events(spark, sf)
    val got = fields(ev)
    assert(!got.contains("ts"),
      "canonical events must DROP raw ts — a query touching it would " +
        "re-couple 30 call sites to the driver's encoding-of-the-day")
    assertCols("events", got,
      "ts_us" -> LongType, "event_time" -> TimestampType)
    // and the values are sane epoch-µs (year 2001..2100), not raw
    // nanos (~1e18) or seconds (~1e9) — catches a wrong-unit
    // normalization branch, not just a wrong-type one
    import org.apache.spark.sql.functions._
    val r = ev.agg(min("ts_us"), max("ts_us")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    assert(lo > 978307200000000L && hi < 4102444800000000L,
      s"events.ts_us out of plausible epoch-µs range: [$lo, $hi] — " +
        "normalization produced the wrong unit")
  }

  test("an INT64 unit drift trips the RUNTIME range probe, not just specs") {
    // The type tripwire above can't catch a generator that keeps INT64
    // but switches nanos→micros/millis — same schema, values 1000x
    // off. normalizeEventTime guards that per-row (codegen'd range
    // check → raise_error), so the drift dies loudly inside the
    // driver's own Verify/Bench runs, not only when this suite runs.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("unitdrift").toString
    // plausible epoch-MICROS written into the INT64 `ts` column —
    // exactly the silent-1000x shape ADVICE r9 flagged
    Seq((1L, 1704067200000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Exception] {
      graft.util.Tables.events(spark, dir).select("ts_us").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(e).mkString(" | ")
    assert(all.contains("drifted") && all.contains("normalizeEventTime"),
      s"runtime probe should raise the 'drifted' diagnostic: $all")
    // and in-range nanos still pass through the guarded branch
    val ok = java.nio.file.Files.createTempDirectory("unitok").toString
    Seq((1L, 1704067200000000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$ok/events.parquet")
    val r = graft.util.Tables.events(spark, ok).select("ts_us").head()
    assert(r.getLong(0) === 1704067200000000L)
  }

  test("a repeated table or artifact read infers no schema (no Spark job)") {
    val path = s"$sf/orders.parquet"
    assert(jobsStartedBy(spark.read.parquet(path))._2 > 0,
      "a plain read should start its schema-inference job")
    graft.util.Tables.orders(spark, sf)
    val (again, jobs) = jobsStartedBy(graft.util.Tables.orders(spark, sf))
    assert(jobs === 0)
    assert(again.schema === spark.read.parquet(path).schema)

    val key = s"schemacache_${java.util.UUID.randomUUID().toString.take(8)}"
    def art = graft.util.ScratchIndex.materialize(spark, key) {
      spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
    }
    art
    val (artAgain, artJobs) = jobsStartedBy(art)
    assert(artJobs === 0)
    val built = graft.util.ScratchIndex.materializePath(spark, key)(_ =>
      sys.error("already built"))
    assert(artAgain.schema === spark.read.parquet(built).schema)
    assert(artAgain.count() === 5L)
  }

  test("a file moved into place over a cached path is read with its schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("schemaswap").toString
    def partFile(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
    }
    val table = Paths.get(s"$dir/t.parquet")
    Files.move(partFile(Seq((1L, "a")).toDF("id", "name"), "v1"), table)
    val before = graft.util.Tables.t(spark, dir, "t").schema
    assert(graft.util.Tables.t(spark, dir, "t").schema === before)
    Files.move(partFile(Seq((7, 2.5, true)).toDF("k", "score", "ok"), "v2"),
      table, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    val after = graft.util.Tables.t(spark, dir, "t")
    assert(after.schema === spark.read.parquet(table.toString).schema)
    assert(after.schema.fieldNames.toSeq === Seq("k", "score", "ok"))
    assert(after.as[(Int, Double, Boolean)].collect().toSeq === Seq((7, 2.5, true)))
  }

  test("a hive-partitioned artifact keeps its partition column and type") {
    import org.apache.spark.sql.functions.col
    val key = s"schemacache_part_${java.util.UUID.randomUUID().toString.take(8)}"
    val path = graft.util.ScratchIndex.materializePath(spark, key) { tmp =>
      spark.range(6).select(col("id"), (col("id") % 3).cast("int").as("p"))
        .write.partitionBy("p").parquet(tmp)
    }
    val first = graft.util.Tables.parquet(spark, path)
    val (second, jobs) = jobsStartedBy(graft.util.Tables.parquet(spark, path))
    assert(jobs === 0)
    assert(first.schema === spark.read.parquet(path).schema)
    assert(second.schema === first.schema)
    assert(second.schema("p").dataType === IntegerType)
    assert(second.filter(col("p") === 2).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 5L))
  }
}
